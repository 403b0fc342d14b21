"""Round-12 optimization pins: the winnowing Arrow kernel's byte-exact
md5 contract on awkward inputs, the JL GEMM's per-row validation, the
CC local finish's id-type parity with the loop path, and the blocked
pairwise-cosine kernel against a brute-force reference."""
import hashlib

import pytest


def _brute_winnow(text, k, w):
    tk = [t for t in text.lower().split(" ") if t]
    if len(tk) < k:
        return set()
    h = [
        int(
            hashlib.md5(
                " ".join(tk[i: i + k]).encode("utf-8")
            ).hexdigest()[:15],
            16,
        )
        for i in range(len(tk) - k + 1)
    ]
    if len(h) < w:
        return {min(h)}
    return {min(h[j: j + w]) for j in range(len(h) - w + 1)}


def test_winnowing_kernel_nonascii_and_spacing(spark):
    """The Arrow kernel slices k-grams out of one space-joined string at
    BYTE offsets; non-ASCII tokens, repeated spaces, leading/trailing
    spaces, NULL text and uppercase input must all reproduce the
    expression form's md5-of-utf8 contract exactly."""
    from polars_gdal_spark.functions.dedup import winnowing_fingerprints

    rows = [
        (0, "  naïve café über żółć 東京 déjà vu encore une fois  "),
        (1, "MIXED Case TOKENS with  double  spaces everywhere here"),
        (2, "ascii only plain text tokens for the control document"),
        (3, None),
        (4, "λambda μu νnu ξxi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, w in ((3, 4), (2, 8), (3, 1)):
        got = {}
        for r in winnowing_fingerprints(
            df, "doc_id", "text", k=k, w=w
        ).collect():
            got.setdefault(r["doc"], set()).add(r["fp"])
        for doc, text in rows:
            want = _brute_winnow(text, k, w) if text is not None else set()
            assert got.get(doc, set()) == want, f"k={k} w={w} doc={doc}"


def test_winnowing_kernel_id_type_follows_input(spark):
    """Output doc column preserves the input id type (int stays int)."""
    from polars_gdal_spark.functions.dedup import winnowing_fingerprints

    df = spark.createDataFrame(
        [(7, "a b c d e f g h")], "doc_id int, text string"
    )
    out = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    assert dict(out.dtypes)["doc"] == "int"
    assert out.count() > 0


def test_jl_gemm_rejects_ragged_and_null(spark, tmp_path):
    """The JL projection kernel must fail loudly on ragged vectors (even
    when the flattened count divides the row count) and on NULL
    embeddings, instead of silently mis-projecting."""
    import numpy as np
    import pyspark.sql.functions as F  # noqa: F401

    from polars_gdal_spark.queries import QUERIES

    src = "/root/testdata/sf0.001"
    import os
    import shutil

    from polars_gdal_spark.queries import TABLE_NAMES

    def mk_corpus(sub: str, rows) -> str:
        d = tmp_path / sub
        d.mkdir()
        for t in TABLE_NAMES:
            if t == "embeddings":
                continue
            p = f"{src}/{t}.parquet"
            if os.path.isdir(p):
                shutil.copytree(p, d / f"{t}.parquet")
            else:
                shutil.copy(p, d / f"{t}.parquet")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        ).write.parquet(str(d / "embeddings.parquet"))
        return str(d)

    # two rows of 63 and 65 elements: flattened count 128 divides 2,
    # so reshape(2, -1) would silently succeed at width 64
    ragged = mk_corpus("ragged", [
        (0, [float(i) / 100 for i in range(63)], "a"),
        (1, [float(i) / 100 for i in range(65)], "a"),
    ])
    with pytest.raises(Exception, match="expected 64-dim|lengths"):
        QUERIES["embed_random_projection"].func(spark, ragged).count()

    # NULL embedding: flatten() would drop it and shift alignment
    withnull = mk_corpus("withnull", [
        (0, [float(i) / 100 for i in range(64)], "a"),
        (1, None, "a"),
    ])
    with pytest.raises(Exception, match="NULL embedding"):
        QUERIES["embed_random_projection"].func(spark, withnull).count()
    del np


def test_cc_local_path_preserves_id_type(spark):
    """Both CC paths must return the same schema for int32 ids: the
    local finish used to hard-code bigint, a divergence selected
    silently by edge count (r11 ADVICE)."""
    from polars_gdal_spark.functions.dedup import connected_components

    pairs32 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a int, doc_b int"
    )
    local = connected_components(pairs32)  # small -> local finish
    loop = connected_components(pairs32, local_max_edges=0)  # forced loop
    assert local.dtypes == loop.dtypes
    assert sorted(map(tuple, local.collect())) == sorted(
        map(tuple, loop.collect())
    )


def test_cc_local_gate_skips_non_integral_ids(spark):
    """String ids must take the loop path (the numpy finish would
    crash); the id TYPE must never change which inputs succeed."""
    from polars_gdal_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = sorted(map(tuple, connected_components(pairs).collect()))
    assert got == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]


def test_triangle_basket_pairs_match_self_join(spark):
    """The round-12 basket-emit pair generator (collect_set + chained
    explodes) must produce exactly the (a < b, count) relation of the
    distinct self-join it replaced, including duplicate lineitem rows
    collapsing per order and single-part orders emitting nothing."""
    from pyspark.sql import functions as F

    li = spark.createDataFrame(
        [
            (1, 10), (1, 20), (1, 30), (1, 20),  # dup (1,20) collapses
            (2, 20), (2, 10),                     # reversed insert order
            (3, 40),                              # single part: no pairs
            (4, 10), (4, 20),
        ],
        "l_orderkey long, l_partkey long",
    )
    old = (
        li.dropDuplicates().alias("a")
        .join(li.dropDuplicates().alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            (F.shiftleft(F.col("a.l_partkey").cast("bigint"), 31)
             + F.col("b.l_partkey").cast("bigint")).alias("pk"))
        .groupBy("pk").agg(F.count("*").alias("c"))
    )
    from polars_gdal_spark.queries.analytics import _copurchase_pair_counts

    new = _copurchase_pair_counts(li)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    # (10, 20) co-occurs in orders 1, 2 and 4
    got = {r["pk"]: r["c"] for r in new.collect()}
    assert got[(10 << 31) + 20] == 3


def test_copurchase_pairs_ignore_null_order_keys(spark):
    """Lineitem rows with a NULL order key belong to no basket, so they
    form no co-purchase pairs (the equi-join form never matched them)."""
    from polars_gdal_spark.queries.analytics import _copurchase_pair_counts

    li = spark.createDataFrame(
        [(None, 10), (None, 20), (None, 30), (1, 10), (1, 40)],
        "l_orderkey long, l_partkey long",
    )
    got = {r["pk"]: r["c"] for r in _copurchase_pair_counts(li).collect()}
    assert got == {(10 << 31) + 40: 1}


def test_triangle_basket_guard_rejects_out_of_range_ids(spark):
    """The packed-key bound guard must still fail loudly when a basket
    contains an id outside [0, 2^31) — the assert rides the sorted
    array's bounds now, not per-pair columns."""
    import pytest as _pytest

    from polars_gdal_spark.queries import QUERIES  # noqa: F401
    from pyspark.sql import functions as F

    li = spark.createDataFrame(
        [(1, 10), (1, 2147483648)], "l_orderkey long, l_partkey long"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    guard = F.expr(
        "assert_true(size(ps) < 2 OR (element_at(ps, 1) >= 0 AND "
        "element_at(ps, -1) < 2147483648), 'packed pair keys require "
        "part ids in [0, 2^31)')")
    with _pytest.raises(Exception, match="packed pair keys"):
        baskets.where(guard.isNull()).count()


def _ref_pairs(rows, threshold):
    """Brute-force reference for blocked pairwise_cosine: every i<j pair
    within a group (NULL keys form one group), NULL vectors dropped,
    floor(x * 1e6) int64 dots and one float64 division."""
    import math

    import numpy as np

    groups = {}
    for vid, vec, key in rows:
        if vec is not None:
            groups.setdefault(key, []).append((vid, vec))
    out = []
    for members in groups.values():
        members.sort(key=lambda m: m[0])
        q = [np.floor(np.asarray(v, dtype=np.float64) * 1e6).astype(np.int64)
             for _, v in members]
        nrm = [math.sqrt(float(int(x @ x))) for x in q]
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.float64(int(q[i] @ q[j])) / np.float64(
                        nrm[i] * nrm[j])
                if cos >= threshold:
                    out.append((members[i][0], members[j][0], float(cos)))
    return sorted(out)


def _blocked(spark, rows, threshold, dtype="array<double>", **kw):
    from polars_gdal_spark.functions.similarity import pairwise_cosine

    df = spark.createDataFrame(
        rows, f"vec_id long, embedding {dtype}, label string"
    )
    out = pairwise_cosine(df, group_col="label", threshold=threshold, **kw)
    return sorted(map(tuple, out.collect()))


_EDGE_ROWS = [
    (1, [1.0, 0.0, 0.0], "a"),
    (2, [0.9, 0.1, 0.0], "a"),
    (3, [0.0, 1.0, 0.0], "a"),
    (4, [0.0, 0.0, 0.0], "a"),      # zero norm: NaN cosine, dropped
    (5, None, "a"),                  # NULL vector: dropped
    (6, [0.5, 0.5, 0.0], None),     # NULL group key
    (7, [0.5, 0.5, 0.1], None),
    (8, [1.0, 1.0, 1.0], "solo"),   # single-member group: no pairs
    (9, [0.2, 0.9, 0.3], "b"),
    (10, [0.2, 0.9, 0.31], "b"),
    (11, [-0.2, -0.9, -0.3], "b"),
]


def _sized_rows():
    import random

    rng = random.Random(7)
    rows = []
    for gid, size in (("big", 9), ("small", 4), ("tiny", 2)):
        for _ in range(size):
            rows.append(
                (len(rows), [rng.uniform(-1, 1) for _ in range(8)], gid)
            )
    return rows


def test_pairwise_cosine_edge_cases_match_reference(spark):
    """Zero-norm, NULL-vector, NULL-group-key and single-member cases
    give exactly the brute-force reference rows, bit-exact cosines."""
    got = _blocked(spark, _EDGE_ROWS, 0.3)
    assert got == _ref_pairs(_EDGE_ROWS, 0.3)
    ids = {i for a, b, _ in got for i in (a, b)}
    assert (6, 7) in {(a, b) for a, b, _ in got}  # NULL key is a group
    assert not ids & {4, 5, 8}


def test_pairwise_cosine_every_pair_exactly_once(spark):
    """Groups of 9, 4 and 2 give 36 + 6 + 1 pairs, each exactly once,
    whether a group is one tile or split into many (block_cap=3)."""
    rows = _sized_rows()
    ref = _ref_pairs(rows, -1.0)
    assert len(ref) == 43
    assert _blocked(spark, rows, -1.0) == ref
    assert _blocked(spark, rows, -1.0, block_cap=3) == ref


def test_pairwise_cosine_runs_cross_arrow_batches(spark):
    """With 3-row Arrow batches every tile run spans batch boundaries;
    the carried runs must still give exactly the reference rows."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        rows = _sized_rows()
        assert _blocked(spark, _EDGE_ROWS, 0.3) == _ref_pairs(_EDGE_ROWS, 0.3)
        assert _blocked(spark, rows, -1.0) == _ref_pairs(rows, -1.0)
        assert _blocked(spark, rows, -1.0, block_cap=3) == _ref_pairs(
            rows, -1.0)
    finally:
        spark.conf.set(key, old)


def test_pairwise_cosine_wide_vectors_match_reference(spark):
    """d=1024: the gather step is sized from a byte budget, so a
    120-member group (7140 pairs) takes several steps; the rows must
    still match the reference exactly."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=1024)], "g" if i < 120 else "h")
        for i in range(130)
    ]
    got = _blocked(spark, rows, 0.05, dtype="array<float>")
    ref = _ref_pairs(
        [(i, np.float32(v).tolist(), k) for i, v, k in rows], 0.05)
    assert got == ref
    assert len(got) > 0


def test_pairwise_cosine_rejects_mixed_dimensions(spark):
    """Two groups whose vectors differ in length break the fixed-d
    contract: the kernel raises a ValueError naming both lengths."""
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.9, 0.1, 0.0], "a"),
        (3, [1.0, 0.0, 0.0, 0.0, 0.0], "b"),
        (4, [0.9, 0.1, 0.0, 0.0, 0.0], "b"),
    ]
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # both groups in one task
    try:
        with pytest.raises(
            Exception, match=r"pairwise_cosine.*\((3 and 5|5 and 3)\)"
        ):
            _blocked(spark, rows, 0.0)
    finally:
        spark.conf.set(key, old)


def test_pairwise_cosine_plans_one_arrow_kernel(spark):
    """The blocked path is one plan: a single MapInArrow, no per-group
    pandas (FlatMapGroupsInPandas) and no Union of two paths."""
    from polars_gdal_spark.functions.similarity import pairwise_cosine

    df = spark.createDataFrame(
        _EDGE_ROWS, "vec_id long, embedding array<double>, label string"
    )
    plan = pairwise_cosine(
        df, group_col="label", threshold=0.3
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "Union" not in plan
