"""Embedding similarity search.

The cosine kernel works on a **deterministic integer quantization** of the
float vector: q_i = floor(x_i * 1e6) as BIGINT. float→double is exact,
double*1e6 and floor are IEEE-deterministic, so Spark and the DuckDB
oracle produce bit-identical cosines — and integer dot products are
order-independent (no float-summation drift across partitionings).

Scale design:
* ``cosine_topk`` — brute force: broadcast the query vector, one scan,
  TakeOrderedAndProject for the top-k. The right baseline at any scale
  when k is small and there's one query.
* ``lsh_bucketed_pairs`` — sign-random-projection LSH: vectors land in
  hyperplane-sign buckets; candidate pairs come from an equi-join on the
  bucket key. O(n) + per-bucket joins instead of O(n²).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

QUANT = 1_000_000

# pairwise_cosine(group_col=None) plans a nested-loop self-join — the
# explicit small-side contract above which it refuses to run (choose the
# blocked/LSH path instead). 20k rows = 200M pair evaluations, the upper
# end of what one job should ever spend on the naive form.
_UNBLOCKED_PAIRWISE_MAX_ROWS = 20_000


def quantize(col) -> Column:
    """array<float> → array<bigint>, q_i = floor(x_i * 1e6)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint")
    )


def q_matrix(vecs):
    """Quantized int64 matrix + float64 row norms — THE shared GEMM
    preamble for every broadcast-retrieval kernel (knn_join,
    hard_negatives, cosine_range, semantic_decontaminate). One
    implementation so the determinism-critical floor-quantization and
    norm arithmetic can never drift between kernels.

    Import numpy lazily at call sites is unnecessary: this module
    already imports numpy wherever kernels run."""
    import numpy as np

    M = np.floor(
        np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) * QUANT
    ).astype(np.int64)
    return M, np.sqrt((M * M).sum(axis=1).astype(np.float64))


def dot_q(a, b) -> Column:
    """Exact integer dot product of two quantized vectors (left fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def norm_sq_q(a) -> Column:
    """Exact integer squared norm."""
    return dot_q(a, a)


def cosine_q(a, b) -> Column:
    """Cosine over quantized vectors: exact-int dot / double sqrt norms."""
    return dot_q(a, b) / (
        F.sqrt(norm_sq_q(a).cast("double")) * F.sqrt(norm_sq_q(b).cast("double"))
    )


def cosine_topk(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against a single query vector.

    ``query_vec_df`` must be one row with the same ``vec_col``; it is
    crossJoin-broadcast (1 row) so the scan stays embarrassingly parallel.
    """
    q = F.broadcast(
        query_vec_df.select(
            F.col(id_col).alias("_qid"), quantize(F.col(vec_col)).alias("_qv")
        )
    )
    cand = df.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("_v")
    ).crossJoin(q)
    scored = cand.where(F.col(id_col) != F.col("_qid")).select(
        id_col, cosine_q(F.col("_v"), F.col("_qv")).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_range(
    df: DataFrame,
    query_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) search: every (query, candidate) pair with
    cosine ≥ ``threshold``. The top-k sibling is :func:`cosine_topk` /
    :func:`knn_join`; range search is the retrieval shape for "all
    near-duplicates of these probe vectors" audits, where the answer
    size is distance-bounded rather than count-bounded.

    The query set broadcasts (small-side contract, same as knn_join);
    the corpus side stays one embarrassingly parallel scan — no
    shuffle, output bounded by the threshold. The kernel is the
    Arrow-batched int64 GEMM (same quantization, same single IEEE
    division → bit-identical cosines); the original per-row
    ``zip_with``/``aggregate`` formulation was the interpreted-HOF
    anti-pattern this repo has repeatedly measured at 3-24× slower."""
    import numpy as np
    import pandas as pd

    qrows = query_df.select(id_col, vec_col).collect()
    out_schema = (
        f"qid {dict(query_df.dtypes)[id_col]}, "
        f"{id_col} {dict(df.dtypes)[id_col]}, cosine double"
    )
    if not qrows:
        return df.sparkSession.createDataFrame([], out_schema)
    # no dtype coercion on ids: the sibling kernels (knn_join,
    # hard_negatives) accept string/decimal id columns and so does this
    qids = np.array([r[0] for r in qrows])
    Q, qn = q_matrix([r[1] for r in qrows])
    bq = df.sparkSession.sparkContext.broadcast((qids, Q, qn))

    def score(batches):
        qids_b, Q_b, qn_b = bq.value
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])
            if not len(pdf):
                continue
            M, cn = q_matrix(pdf[vec_col])
            cos = (M @ Q_b.T).astype(np.float64) / np.outer(cn, qn_b)
            ids = pdf[id_col].to_numpy()
            mask = (cos >= threshold) & (ids[:, None] != qids_b[None, :])
            i, j = np.nonzero(mask)
            if len(i):
                yield pd.DataFrame(
                    {
                        "qid": qids_b[j],
                        id_col: ids[i],
                        "cosine": cos[i, j],
                    }
                )

    return df.select(id_col, vec_col).mapInPandas(score, out_schema)


def pairwise_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    threshold: float = 0.8,
    block_cap: int = 2048,
    cache_input: bool = False,
) -> DataFrame:
    """All-pairs cosine above threshold, optionally blocked by a group
    column (e.g. a cluster label or LSH bucket) so the pair space is
    per-block, never corpus².

    Blocked path (``group_col`` set): one sorted-run Arrow kernel.

    * A broadcast per-group count sets the chunk count
      ``m = ceil(n / block_cap)``; each row hashes to one chunk and fans
      out to the ``m`` tiles ``(min(ck, o), max(ck, o))`` it belongs to.
      A diagonal tile yields the ``i < j`` pairs of one chunk, an
      off-diagonal tile the chunk ci × chunk cj cross pairs, so every
      unordered pair lands in exactly one tile. A group at or under
      ``block_cap`` is one tile.
    * ``repartition`` + ``sortWithinPartitions`` by (group, ci, cj, id)
      make each tile a contiguous run; one ``mapInArrow`` walks the runs
      of every batch (a run cut by a batch boundary is carried into the
      next batch) and expands them into pair indices with no per-group
      Python.
    * Every pair takes the same arithmetic: ``floor(x * 1e6)`` int64
      quantization, an exact int64 dot (sums below 2^53, so the float64
      conversion is exact), one float64 division by the product of the
      float64 norms, and ``>= threshold`` (NaN from a zero norm drops).
      Cosines are therefore bit-identical to the SQL form and to any
      tiling. Ids come out as ``id_a <= id_b``.

    Contract: NULL vectors are dropped, NULL group keys form one group,
    and every vector has the same dimension ``d``; a task that meets two
    lengths raises ``ValueError`` naming both.

    Memory per task, in bytes: one Arrow batch plus at most one carried
    tile (about ``2 × block_cap`` rows), their int64 quantized copy
    (``rows × d × 8``), and ``_GATHER_BYTES`` of gathered pair
    temporaries per step.
    """
    if group_col is None:
        # Non-equi self-join (a.id < b.id) — Spark plans a nested loop,
        # which is O(n²) at ANY scale. Safe only under an explicit
        # small-side contract; beyond it, refuse loudly and point at the
        # paths that do scale. limit(max+1) short-circuits the contract
        # check: it never materializes more than max+1 rows of the
        # input lineage, where a bare count() would execute the full
        # (possibly expensive-UDF) pipeline once just to refuse.
        over = (
            df.limit(_UNBLOCKED_PAIRWISE_MAX_ROWS + 1).count()
            > _UNBLOCKED_PAIRWISE_MAX_ROWS
        )
        if over:
            raise ValueError(
                f"pairwise_cosine(group_col=None) is a nested-loop "
                f"self-join — refusing >{_UNBLOCKED_PAIRWISE_MAX_ROWS} "
                "rows. Pass group_col (LSH bucket / cluster label) for "
                "the blocked tiled path, or use lsh_bucketed_pairs "
                "/ ivf_knn_join."
            )
        base = df.select(
            F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v")
        ).withColumn("nrm", F.sqrt(norm_sq_q(F.col("v")).cast("double")))
        a, b = base.alias("a"), base.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                (
                    dot_q(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.nrm") * F.col("b.nrm"))
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )

    id_dtype = dict(df.dtypes)[id_col]
    out_schema = f"id_a {id_dtype}, id_b {id_dtype}, cosine double"
    thr = float(threshold)
    cap = max(2, int(block_cap))

    def kernel(batches):
        import pyarrow as pa

        carry, d = None, None
        for b in batches:
            if carry is not None:
                b = pa.Table.from_batches([carry, b]).combine_chunks()
                b = b.to_batches()[0]
            if b.num_rows == 0:
                continue
            d = _vector_dim(b.column(5), d)
            starts = _run_starts(b)
            # the last run may continue in the next batch: hold it back
            tail = int(starts[-1])
            if tail:
                yield from _tile_pairs(b.slice(0, tail), starts[:-1], d, thr)
            carry = b.slice(tail)
        if carry is not None:
            yield from _tile_pairs(carry, _run_starts(carry), d, thr)

    # The count is a broadcast aggregate, not a partitionBy(group)
    # window, which would put a whole group in one task. ``cache_input``
    # persists the projection when the group key is expensive to
    # recompute (the SRP bucket UDF in ``lsh_bucketed_pairs``): the count
    # is a second consumer of ``df``.
    base_in = df.select(id_col, vec_col, group_col).where(
        F.col(vec_col).isNotNull()
    )
    if cache_input:
        from pyspark import StorageLevel

        base_in = base_in.persist(StorageLevel.MEMORY_AND_DISK)
    cnts = (
        base_in.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count("*").alias("_gn"))
        .where(F.col("_gn") >= 2)
    )
    tiles = (
        base_in.join(
            F.broadcast(cnts), F.col(group_col).eqNullSafe(F.col("_g"))
        )
        .withColumn("_m", F.ceil(F.col("_gn") / F.lit(cap)).cast("int"))
        .withColumn(
            "_ck", F.pmod(F.xxhash64(F.col(id_col)), F.col("_m")).cast("int")
        )
        .withColumn("_o", F.explode(F.sequence(F.lit(0), F.col("_m") - 1)))
        .select(
            group_col,
            F.least("_ck", "_o").alias("_ci"),
            F.greatest("_ck", "_o").alias("_cj"),
            "_ck",
            id_col,
            vec_col,
        )
        .repartition(group_col, "_ci", "_cj")
        .sortWithinPartitions(group_col, "_ci", "_cj", id_col)
    )
    return tiles.mapInArrow(kernel, out_schema)


# Byte budget of one gather step in the pairwise kernel: the two
# gathered int64 row blocks (16·d bytes per pair) plus ~64 bytes of
# per-pair indices, dots and cosines.
_GATHER_BYTES = 64 << 20


def _run_starts(b) -> "np.ndarray":
    """Row offsets where a new (group, ci, cj) run begins in a batch
    sorted by those columns (columns 0-2; NULL keys compare equal)."""
    import numpy as np

    g = b.column(0).dictionary_encode(null_encoding="encode").indices
    keys = [g.to_numpy(), b.column(1).to_numpy(), b.column(2).to_numpy()]
    new = np.zeros(b.num_rows, dtype=bool)
    new[0] = True
    for k in keys:
        new[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(new)


def _vector_dim(vecs, d: int | None) -> int:
    """The common length of the list array ``vecs``; it must equal ``d``,
    the length already seen by this task, when that is set."""
    import numpy as np

    lens = np.diff(vecs.offsets.to_numpy())
    if d is None:
        d = int(lens[0])
    bad = lens != d
    if bad.any():
        raise ValueError(
            "pairwise_cosine: embedding dimensions differ within one "
            f"task ({d} and {int(lens[bad][0])}); every vector must have "
            "the same length"
        )
    return d


def _tile_pairs(b, starts, d: int, thr: float):
    """Cosine pairs of the complete tile runs in ``b`` (columns group,
    ci, cj, ck, id, vec; runs begin at ``starts``; vectors of length
    ``d``) as Arrow batches of (id_a, id_b, cosine)."""
    import numpy as np
    import pyarrow as pa

    n = b.num_rows
    fv = b.column(5).flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    M = np.floor(fv * QUANT).astype(np.int64).reshape(n, d)
    nrm = np.sqrt(np.einsum("ij,ij->i", M, M).astype(np.float64))

    # Per run: size, diagonal flag and, off the diagonal, how many rows
    # sit in chunk cj (side B). A stable sort on (run, side) puts each
    # off-diagonal run's chunk-ci rows (A) ahead of its chunk-cj rows
    # and leaves diagonal runs in id order.
    size = np.diff(np.append(starts, n))
    run = np.repeat(np.arange(len(starts)), size)
    ci = b.column(1).to_numpy()[starts]
    diag = ci == b.column(2).to_numpy()[starts]
    side = (b.column(3).to_numpy() != ci[run]).astype(np.int64)
    perm = np.argsort(run * 2 + side, kind="stable")
    n_b = np.add.reduceat(side, starts)
    n_a = size - n_b

    # Each anchor (position p in sorted order) pairs with one contiguous
    # range: the rest of its diagonal run, or all B rows of its
    # off-diagonal run when it is an A row.
    pos = np.arange(n)
    loc = pos - starts[run]
    cnt = np.where(
        diag[run], size[run] - 1 - loc, np.where(loc < n_a[run], n_b[run], 0)
    )
    first = np.where(diag[run], pos + 1, starts[run] + n_a[run])
    cum = np.cumsum(cnt)
    tot = int(cum[-1])
    if tot == 0:
        return
    ids = b.column(4)
    # anchor blocks of about ``step`` pairs each (one anchor never splits)
    step = max(1, _GATHER_BYTES // (16 * d + 64))
    cuts = np.searchsorted(cum, np.arange(step, tot, step)) + 1
    edges = np.unique(np.concatenate(([0], cuts, [n])))
    with np.errstate(invalid="ignore", divide="ignore"):
        for a0, a1 in zip(edges[:-1], edges[1:]):
            c = cnt[a0:a1]
            k = int(c.sum())
            if k == 0:
                continue
            base = cum[a0:a1] - c
            ia = np.repeat(pos[a0:a1], c)
            ib = np.repeat(first[a0:a1], c) + (
                np.arange(k) - np.repeat(base - base[0], c)
            )
            oa, ob = perm[ia], perm[ib]
            dots = np.einsum("ij,ij->i", M[oa], M[ob])
            cos = dots.astype(np.float64) / (nrm[oa] * nrm[ob])
            keep = cos >= thr
            if not keep.any():
                continue
            oa, ob = oa[keep], ob[keep]
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(np.minimum(oa, ob))),
                    ids.take(pa.array(np.maximum(oa, ob))),
                    pa.array(cos[keep], type=pa.float64()),
                ],
                names=["id_a", "id_b", "cosine"],
            )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (argmax exact-int cosine, smallest-centroid-id tiebreak).

    One Arrow-batched GEMM per input batch — the HOF-fold formulation
    this replaced (``dot_q`` over a corpus × k crossJoin plus a
    row_number window) paid the interpreted-lambda tax k times per
    vector AND shuffled k·n rows for the rank; the kernel computes the
    same quantities with NO shuffle at all. Bit-identical to the SQL
    oracles: quantized dots are exact int64 (< 2^53, so the float64
    conversion is exact), norms/products/division are single IEEE ops
    in both engines, and NaN similarities (zero-norm degeneracy) are
    mapped to +inf before argmax to mirror Spark's NaN-sorts-largest
    ordering with the smallest-centroid-id tiebreak.

    ``centroids.collect()`` is a k-row small-side contract (centroid
    sets are broadcast-sized by definition)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            df.schema[id_col],
            df.schema[vec_col],
            StructField(centroid_id, LongType()),
        ]
    )
    cent = sorted(
        (r[0], list(r[1]))
        for r in centroids.select(id_col, vec_col).collect()
    )
    if not cent:
        return (
            df.select(id_col, vec_col)
            .where(F.lit(False))
            .withColumn(centroid_id, F.lit(0).cast("long"))
        )
    cids = np.array([c[0] for c in cent], dtype=np.int64)
    cq = np.floor(
        np.array([c[1] for c in cent], dtype=np.float64) * QUANT
    ).astype(np.int64)
    cn = np.sqrt((cq * cq).sum(axis=1).astype(np.float64))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            vq = np.floor(v * QUANT).astype(np.int64)
            vn = np.sqrt((vq * vq).sum(axis=1).astype(np.float64))
            sims = (vq @ cq.T).astype(np.float64) / (
                vn[:, None] * cn[None, :]
            )
            sims = np.where(np.isnan(sims), np.inf, sims)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    centroid_id: cids[np.argmax(sims, axis=1)],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_search(
    df: DataFrame,
    centroids: DataFrame,
    query_vec_df: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe search: rank cells by centroid similarity to the query,
    scan only the top ``n_probe`` cells, exact cosine re-rank. The scan
    prunes to n_probe/n_cells of the corpus — the ANN structure that
    scales past brute force."""
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    # top-n_probe cells for the query via direct ranking
    q = F.broadcast(
        query_vec_df.select(quantize(F.col(vec_col)).alias("_qv")).withColumn(
            "_qn", F.sqrt(norm_sq_q(F.col("_qv")).cast("double"))
        )
    )
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        quantize(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", F.sqrt(norm_sq_q(F.col("_cv")).cast("double")))
    cells = (
        c.crossJoin(q)
        .withColumn(
            "_sim", dot_q(F.col("_cv"), F.col("_qv")) / (F.col("_cn") * F.col("_qn"))
        )
        .orderBy(F.desc("_sim"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    cand = assigned.join(F.broadcast(cells), "centroid_id")
    scored = (
        cand.select(
            id_col,
            "centroid_id",
            quantize(F.col(vec_col)).alias("_v"),
        )
        .withColumn("_n", F.sqrt(norm_sq_q(F.col("_v")).cast("double")))
        .crossJoin(q)
        .select(
            id_col,
            "centroid_id",
            (dot_q(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))).alias(
                "cosine"
            ),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def save_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index for reuse: the corpus assigned to cells,
    written as parquet **partitioned by centroid_id** (one directory per
    cell), plus the centroid table. The build pays one assignment scan +
    one shuffle; every later probe reads ONLY the probed cell
    directories — Spark's directory-level partition pruning is the IVF
    inverted list, so search cost is n_probe/n_cells of the corpus at
    the FILE level, not just the row level. This is the build-once/
    query-many shape a 100 TB ANN deployment needs (re-running
    ``ivf_assign`` per query would re-scan the full corpus every time).
    """
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        path + "/cells"
    )
    centroids.select(id_col, vec_col).write.mode("overwrite").parquet(
        path + "/centroids"
    )


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(cells, centroids) of an index written by :func:`save_ivf_index`."""
    return (
        spark.read.parquet(path + "/cells"),
        spark.read.parquet(path + "/centroids"),
    )


def ivf_search_indexed(
    spark,
    path: str,
    query_vec_df: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe search against a persisted IVF index: rank cells by
    centroid similarity (centroid relation is driver-small by the IVF
    contract — same documented contract as ``knn_join``'s query side),
    then scan ONLY those cells via a literal ``isin`` filter on the
    partition column, so the parquet scan carries PartitionFilters and
    never opens the other cell directories. Exact cosine re-rank on the
    candidates."""
    cells_df, centroids = load_ivf_index(spark, path)
    q = F.broadcast(
        query_vec_df.select(quantize(F.col(vec_col)).alias("_qv")).withColumn(
            "_qn", F.sqrt(norm_sq_q(F.col("_qv")).cast("double"))
        )
    )
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        quantize(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", F.sqrt(norm_sq_q(F.col("_cv")).cast("double")))
    probe_ids = [
        r["centroid_id"]
        for r in (
            c.crossJoin(q)
            .withColumn(
                "_sim",
                dot_q(F.col("_cv"), F.col("_qv"))
                / (F.col("_cn") * F.col("_qn")),
            )
            .orderBy(F.desc("_sim"), F.asc("centroid_id"))
            .limit(n_probe)
            .select("centroid_id")
            .collect()
        )
    ]
    cand = cells_df.where(F.col("centroid_id").isin(probe_ids))
    scored = (
        cand.select(
            id_col,
            "centroid_id",
            quantize(F.col(vec_col)).alias("_v"),
        )
        .withColumn("_n", F.sqrt(norm_sq_q(F.col("_v")).cast("double")))
        .crossJoin(q)
        .select(
            id_col,
            "centroid_id",
            (
                dot_q(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def srp_bucket(col, planes: int = 8, table: int = 0) -> Column:
    """Sign-random-projection LSH bucket key: a ``planes``-char 0/1 string,
    bit_p = sign of Σ_i x_i * w_pi with deterministic pseudo-random weights
    w_pi = (((s*73856093 + i*19349663) % 83) % 7) - 3, s = table*101 + p
    (integer arithmetic →
    exact integer arithmetic over the quantized vector; reproducible in
    the SQL oracle). ``table`` seeds an independent hyperplane set per
    LSH table; table=0 reproduces the original single-table key."""
    q = quantize(col)
    def bit(p: int) -> Column:
        # s*73856093 folds to a Python-side constant; all remaining
        # arithmetic is explicit bigint (int32 would overflow under ANSI)
        base = (table * 101 + p) * 73856093
        proj = F.aggregate(
            F.zip_with(
                q,
                F.sequence(F.lit(0), F.size(q) - 1),
                lambda x, i: x
                * (
                    (
                        (
                            F.lit(base).cast("bigint")
                            + i.cast("bigint") * 19349663
                        )
                        % 83
                    )
                    % 7
                    - 3
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.lit("1")).otherwise(F.lit("0"))
    return F.concat(*[bit(p) for p in range(planes)])


def adaptive_planes(
    n_rows: int,
    target_bucket: int = 64,
    min_planes: int = 8,
    max_planes: int = 24,
) -> int:
    """Plane count that keeps EXPECTED bucket size ~``target_bucket`` as
    the corpus grows: ceil(log2(n / target)). With a FIXED plane count
    the bucket population grows linearly with the corpus and in-bucket
    pair generation grows quadratically — the classic silent scale
    killer in single-table LSH deployments. K planes ⇒ 2^K buckets, so
    K must track log2(n); recall lost to longer keys is recovered with
    multiple tables (``lsh_bucketed_pairs(tables=L)``), the standard
    K/L trade of LSH (Charikar 2002; Indyk–Motwani 1998).

    Integer-exact: ``ceil(log2(n/target)) == bit_length(ceil(n/target)-1)``
    (smallest K with ``2^K * target >= n``), so the DuckDB oracle can
    reproduce the same K with ``length(bin(m-1))`` — no float log2 on
    either side, no boundary drift between engines."""
    target = max(1, target_bucket)
    m = (max(0, n_rows) + target - 1) // target  # ceil(n/target)
    need = 0 if m <= 1 else (m - 1).bit_length()
    return max(min_planes, min(max_planes, need))


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    threshold: float = 0.8,
    tables: int = 1,
    cache_keys: bool = True,
) -> DataFrame:
    """ANN candidate pairs: equi-join on the SRP bucket, then exact cosine
    refinement. At scale this is the shuffle-friendly path: bucket keys
    distribute uniformly and each bucket joins locally.

    **Sizing at scale**: pass ``planes=adaptive_planes(n)`` so expected
    bucket size stays constant as the corpus grows (fixed planes ⇒
    quadratic in-bucket pair growth), and raise ``tables`` (independent
    hyperplane sets; candidates are the UNION of per-table bucket joins,
    deduplicated) to recover the recall longer keys cost — the standard
    L-tables-of-K-planes LSH layout. ``tables=1`` computes the same
    bucket key (and therefore the same output) as the original
    single-table operator (oracle-pinned).

    Bucket keys come from ONE vectorized pandas_udf (numpy int64 GEMM
    of the quantized vectors against the tables×planes weight matrix) —
    the per-plane ``F.aggregate`` lambda formulation is interpreted by
    Catalyst (higher-order functions don't codegen) and cost ~24× more
    wall at tables×planes=24 (13.0 s → see bench at sf1); the integer
    math is identical (dots ≤ 3e8 « 2⁵³), so bucket keys are bit-equal
    in both formulations and the oracle keeps passing."""
    keys_udf = _srp_keys_udf(planes, tables)
    withb = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(keys_udf(F.col(vec_col))).alias("bkt"),
    )
    pairs = pairwise_cosine(
        withb, id_col=id_col, vec_col=vec_col,
        group_col="bkt", threshold=threshold,
        # bucket keys come from the GEMM pandas UDF above — cache so the
        # tiler's group-count pass doesn't run the UDF a second time.
        # Callers with a SMALL corpus pass cache_keys=False: the persist
        # has ~1 s of constant stage/materialization overhead in local
        # runs, which only pays for itself once the key UDF dominates
        # (measured: n=2k loses ~1 s, n=20k saves ~1.5 s, n=60k saves
        # ~3 s per run).
        cache_input=cache_keys,
    ).withColumnsRenamed({"id_a": "vec_a", "id_b": "vec_b"})
    if tables <= 1:
        return pairs
    return pairs.dropDuplicates(["vec_a", "vec_b"])


def _srp_keys_udf(planes: int, tables: int):
    """Arrow-vectorized SRP bucket keys: array of ``"{t}:{bits}"`` per
    row (one entry per LSH table). Same seeded weight family and sign
    rule as :func:`srp_bucket`; null vectors map to a null array."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def keys(v: pd.Series) -> pd.Series:
        import numpy as np

        wcache: dict[int, np.ndarray] = {}

        def weights(dim: int) -> np.ndarray:
            W = wcache.get(dim)
            if W is None:
                W = np.array(
                    [
                        [
                            ((((t * 101 + p) * 73856093 + i * 19349663) % 83)
                             % 7) - 3
                            for i in range(dim)
                        ]
                        for t in range(tables)
                        for p in range(planes)
                    ],
                    dtype=np.int64,
                )
                wcache[dim] = W
            return W

        out = []
        notnull = v[v.notna()]
        if len(notnull):
            M = np.floor(
                np.stack(
                    [np.asarray(x, dtype=np.float64) for x in notnull]
                )
                * QUANT
            ).astype(np.int64)
            bits = (M @ weights(M.shape[1]).T) > 0  # n × (tables*planes)
            strs = np.where(bits, "1", "0")
            keys_nn = iter(
                [
                    f"{t}:" + "".join(row[t * planes : (t + 1) * planes])
                    for t in range(tables)
                ]
                for row in strs
            )
        else:
            keys_nn = iter(())
        for isna in v.isna():
            out.append(None if isna else next(keys_nn))
        return pd.Series(out)

    return keys


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch kNN join: top-k corpus neighbours for EVERY query vector.

    The at-scale brute-force design: the (small, explicitly bounded)
    query set is materialized on the driver into one numpy matrix and
    broadcast — the same smallness contract as ``F.broadcast`` on a dim
    table; the corpus is never moved. Each corpus partition computes a
    batch × queries int64 GEMM (``mapInPandas``) and emits only its
    LOCAL top-k per query, so the shuffle into the global top-k window
    carries at most ``k × partitions`` rows per query, not the corpus.
    Exact-int quantization keeps results engine-reproducible
    (bit-identical to the SQL oracle).
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    out_schema_empty = (
        f"qid {dict(queries.dtypes)[id_col]}, "
        f"{id_col} {dict(corpus.dtypes)[id_col]}, cosine double"
    )
    if not qrows:  # empty query set -> empty result, not np.stack crash
        return corpus.sparkSession.createDataFrame([], out_schema_empty)
    qids = np.array([r[0] for r in qrows])
    Q, qn = q_matrix([r[1] for r in qrows])
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Q, qn))

    out_schema = (
        f"qid {dict(queries.dtypes)[id_col]}, "
        f"{id_col} {dict(corpus.dtypes)[id_col]}, cosine double"
    )

    def score(batches):
        qids_b, Q_b, qn_b = bq.value
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])
            if not len(pdf):
                continue
            M, cn = q_matrix(pdf[vec_col])
            cos = (M @ Q_b.T).astype(np.float64) / np.outer(cn, qn_b)
            ids = pdf[id_col].to_numpy()
            for j in range(len(qids_b)):
                col = cos[:, j]
                take = min(k, len(col))
                # local top-k with the global tie order (desc cos, asc id)
                top = np.lexsort((ids, -col))[:take]
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(qids_b[j], take),
                        id_col: ids[top],
                        "cosine": col[top],
                    }
                )

    from pyspark.sql import Window

    local = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over the quantized-cosine metric —
    trains the centroid set `ivf_assign`/`ivf_search` consume.

    Fully deterministic (engine-reproducible): seeding is the ``k``
    vectors with the smallest ids; assignment is argmax exact-int
    cosine with smallest-centroid-id tiebreak; the update step averages
    QUANTIZED components — integer sums are order-independent, so the
    mean is one exact ``sum/count/QUANT`` double division with no
    float-accumulation drift across partitionings.

    Scale shape per iteration: centroids broadcast (k rows) for the
    assignment scan; the update is one shuffle of (centroid, pos)
    partial sums — map-side combined, the wire carries k×dim longs per
    partition regardless of corpus size. A centroid that loses all
    members drops out (the standard Lloyd degeneracy; deterministic, so
    oracles agree).

    Returns the final centroids: (``id_col``, ``vec_col`` array<double>).
    """
    centroids = df.orderBy(id_col).limit(k).select(id_col, vec_col)
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        upd = (
            assigned.select(
                "centroid_id",
                F.posexplode(quantize(F.col(vec_col))).alias("pos", "q"),
            )
            .groupBy("centroid_id", "pos")
            .agg((F.sum("q") / F.count("*") / QUANT).alias("val"))
        )
        centroids = (
            upd.groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "val"))
                ).alias("_s")
            )
            .select(
                F.col("centroid_id").alias(id_col),
                F.transform("_s", lambda x: x["val"]).alias(vec_col),
            )
        )
    return centroids


def ivfpq_adc_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    query_vec,
    m: int = 8,
    codebook_k: int = 16,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the FAISS-style two-level ANN that carries vector search
    to 100 TB — a coarse IVF quantizer prunes the search to ``n_probe``
    cells, and product quantization compresses each vector's RESIDUAL
    (vector − its centroid) to ``m`` codebook indices, so the scan
    ranks by asymmetric distance (per-cell lookup tables) without ever
    touching the original floats.

    Fused single-pass design: coarse assignment, residual, PQ encode,
    and ADC lookup all run inside ONE ``mapInPandas`` kernel (the
    centroid matrix, residual codebooks, and per-probed-cell query
    tables ride the closure — a few KB), so the corpus is scanned once
    with NO shuffle; rows assigned to unprobed cells drop inside the
    kernel. The result is a TakeOrderedAndProject top-k. The persisted
    steady-state twin (scan only probed cell directories) is
    ``save_ivf_index``/``ivf_search_indexed`` — this operator is the
    build+query path and the compression contract.

    Deterministic metadata contracts (like IVF centroids / PQ
    codebooks): centroids and the ``codebook_k`` smallest-id corpus
    rows collect to the driver; residual arithmetic is exact int64, so
    codes, tables, and distances are bit-reproducible on any cluster
    shape and the SQL oracle replays the identical chain."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf  # noqa: F401

    crows = centroids.select(id_col, vec_col).orderBy(id_col).collect()
    cids = np.array([r[0] for r in crows])
    C0 = np.floor(
        np.stack([np.asarray(r[1], dtype=np.float64) for r in crows]) * QUANT
    ).astype(np.int64)
    cn = np.sqrt((C0 * C0).sum(axis=1).astype(np.float64))
    d = C0.shape[1]
    assert d % m == 0
    dsub = d // m

    q = np.floor(np.asarray(query_vec, dtype=np.float64) * QUANT).astype(
        np.int64
    )
    qn = np.sqrt(float(q @ q))

    # probe cells: top n_probe by centroid cosine, smallest-cid tiebreak
    ccos = (C0 @ q).astype(np.float64) / (cn * qn)
    porder = np.lexsort((cids, -ccos))[:n_probe]
    probe_cids = cids[porder]

    # residual codebooks from the codebook_k smallest-id corpus rows
    srows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(codebook_k)
    ).collect()
    S0 = np.floor(
        np.stack([np.asarray(r[1], dtype=np.float64) for r in srows]) * QUANT
    ).astype(np.int64)
    sn = np.sqrt((S0 * S0).sum(axis=1).astype(np.float64))
    ssims = (S0 @ C0.T).astype(np.float64) / np.outer(sn, cn)
    # zero-norm rows divide to NaN; map to +inf so argmax matches
    # ivf_assign's documented smallest-centroid-id tiebreak (and the SQL
    # oracle's NaN-sorts-largest ordering) instead of landing on the
    # first NaN column
    ssims = np.where(np.isnan(ssims), np.inf, ssims)
    sassign = np.argmax(ssims, axis=1)
    R = S0 - C0[sassign]
    CB = np.stack(
        [R[:, b * dsub : (b + 1) * dsub] for b in range(m)]
    )  # (m, codebook_k, dsub)
    cbsq = np.einsum("mkd,mkd->mk", CB, CB)

    # per-probed-cell ADC tables over the query residual
    tables = {}
    for cid, ci in zip(probe_cids, porder):
        qr = q - C0[ci]
        T = np.empty((m, CB.shape[1]), dtype=np.int64)
        for b in range(m):
            qb = qr[b * dsub : (b + 1) * dsub]
            T[b] = (qb @ qb) - 2 * (CB[b] @ qb) + cbsq[b]
        tables[int(cid)] = T

    sc = corpus.sparkSession.sparkContext
    bmeta = sc.broadcast((cids, C0, cn, CB, cbsq, tables))
    out_schema = f"{id_col} {dict(corpus.dtypes)[id_col]}, adc_dist double"

    def kernel(batches):
        cids_b, C0_b, cn_b, CB_b, cbsq_b, tab_b = bmeta.value
        mm, kk, ds = CB_b.shape
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])
            if not len(pdf):
                continue
            X = np.floor(
                np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                * QUANT
            ).astype(np.int64)
            xn = np.sqrt((X * X).sum(axis=1).astype(np.float64))
            xsims = (X @ C0_b.T).astype(np.float64) / np.outer(xn, cn_b)
            xsims = np.where(np.isnan(xsims), np.inf, xsims)  # ivf_assign idiom
            cell = np.argmax(xsims, axis=1)
            cell_ids = cids_b[cell]
            keep = np.isin(cell_ids, list(tab_b.keys()))
            if not keep.any():
                continue
            Xk = X[keep] - C0_b[cell[keep]]  # residuals
            ids = pdf[id_col].to_numpy()[keep]
            cells_k = cell_ids[keep]
            adc = np.zeros(len(Xk), dtype=np.int64)
            codes = np.empty((len(Xk), mm), dtype=np.int64)
            for b in range(mm):
                Rb = Xk[:, b * ds : (b + 1) * ds]
                dists = (
                    np.einsum("nd,nd->n", Rb, Rb)[:, None]
                    - 2 * (Rb @ CB_b[b].T)
                    + cbsq_b[b][None, :]
                )
                codes[:, b] = np.argmin(dists, axis=1)
            for cid, T in tab_b.items():
                sel = cells_k == cid
                if sel.any():
                    adc[sel] = T[
                        np.arange(mm)[None, :], codes[sel]
                    ].sum(axis=1)
            yield pd.DataFrame(
                {id_col: ids, "adc_dist": adc.astype(np.float64)}
            )

    local = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    return local.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    vector, the ``k`` most-cosine-similar corpus vectors whose label
    DIFFERS from the query's — the near-miss negatives that make
    embedding models actually learn (easy random negatives carry no
    gradient signal).

    Same scale shape as :func:`knn_join` — broadcast query matrix,
    per-partition int64 GEMM, local top-k, global top-k window over
    ``k × partitions`` rows — plus a label mask applied INSIDE the GEMM
    (same-label cosines set to -inf before the local top-k), so the
    exclusion costs zero extra passes and no join. The corpus is never
    moved; the only collect is the bounded query set."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col, label_col).collect()
    out_schema = (
        f"qid {dict(queries.dtypes)[id_col]}, "
        f"{id_col} {dict(corpus.dtypes)[id_col]}, cosine double"
    )
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows])
    qlabels = np.array([r[2] for r in qrows])
    Q, qn = q_matrix([r[1] for r in qrows])
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qlabels, Q, qn))

    def score(batches):
        qids_b, qlab_b, Q_b, qn_b = bq.value
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])
            if not len(pdf):
                continue
            M, cn = q_matrix(pdf[vec_col])
            cos = (M @ Q_b.T).astype(np.float64) / np.outer(cn, qn_b)
            ids = pdf[id_col].to_numpy()
            labs = pdf[label_col].to_numpy()
            for j in range(len(qids_b)):
                col = np.where(labs == qlab_b[j], -np.inf, cos[:, j])
                keep = np.isfinite(col)
                if not keep.any():
                    continue
                ids_j, col_j = ids[keep], col[keep]
                take = min(k, len(col_j))
                top = np.lexsort((ids_j, -col_j))[:take]
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(qids_b[j], take),
                        id_col: ids_j[top],
                        "cosine": col_j[top],
                    }
                )

    from pyspark.sql import Window

    local = corpus.select(id_col, vec_col, label_col).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
):
    """Product-quantization codebooks: the vector space splits into
    ``m`` contiguous subspaces and each gets ``k`` centroids — here the
    sub-vectors of the ``k`` smallest-id vectors (deterministic sampled
    codebook; swap in :func:`kmeans_lloyd` per block for trained ones).
    Returns a numpy int64 array of shape (m, k, d/m) in the engine's
    exact quantization (floor(x·1e6)).

    Driver contract: collects exactly ``k`` rows (16 by default) — the
    codebook is ANN *metadata*, like IVF centroids; the corpus itself is
    never collected. At 100 TB the codebook is still 16 rows."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    M = np.floor(
        np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
        * QUANT
    ).astype(np.int64)
    d = M.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    # (k, d) -> (m, k, d/m)
    return np.stack([M[:, b * (d // m): (b + 1) * (d // m)] for b in range(m)])


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: per subspace, the index of the L2-nearest
    codebook centroid (exact int64 arithmetic, smallest-index tiebreak —
    ``np.argmin`` returns the first minimum, matching the SQL
    ``ORDER BY dist, c`` rank). Output (id, codes array<int>): 64 floats
    compress to m small ints — the 8-32× memory cut that lets a 100 TB
    corpus' ANN index live in RAM across a cluster. One vectorized
    pandas UDF (numpy GEMM per Arrow batch), no shuffle at all."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = codebooks  # (m, k, dsub)
    mm, kk, dsub = C.shape
    csq = np.einsum("mkd,mkd->mk", C, C)  # (m, k) centroid norms

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        X = np.floor(
            np.stack([np.asarray(x, dtype=np.float64) for x in v]) * QUANT
        ).astype(np.int64)
        out = np.empty((len(X), mm), dtype=np.int64)
        for b in range(mm):
            Xb = X[:, b * dsub:(b + 1) * dsub]
            dists = (
                np.einsum("nd,nd->n", Xb, Xb)[:, None]
                - 2 * (Xb @ C[b].T)
                + csq[b][None, :]
            )
            out[:, b] = np.argmin(dists, axis=1)
        return pd.Series(list(out))

    return df.select(F.col(id_col), enc(F.col(vec_col)).alias("codes"))


def pq_adc_topk(
    encoded: DataFrame,
    codebooks,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query's per-subspace
    distance table (m × codebook_k exact int64 L2s) computes ONCE on the
    driver and broadcasts inside the UDF closure; each corpus row's
    approximate distance is m table lookups + a sum — no decompression,
    no per-row float math. Ends in orderBy+limit (=
    TakeOrderedAndProject: per-partition local top-k, k×partitions rows
    to the driver). Distances are integer-valued doubles < 2^53, so
    ranking and values are bit-reproducible on any cluster shape."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = codebooks
    mm, kk, dsub = C.shape
    q = np.floor(np.asarray(query_vec, dtype=np.float64) * QUANT).astype(
        np.int64
    )
    T = np.empty((mm, kk), dtype=np.int64)
    for b in range(mm):
        qb = q[b * dsub:(b + 1) * dsub]
        T[b] = (qb @ qb) - 2 * (C[b] @ qb) + np.einsum(
            "kd,kd->k", C[b], C[b]
        )

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        return pd.Series(
            T[np.arange(mm)[None, :], X].sum(axis=1).astype(np.float64)
        )

    return (
        encoded.select(F.col(id_col), adc(F.col("codes")).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the shingle-based ``text.decontaminate``: every corpus vector gets
    its MAX cosine against the (bounded, broadcast) eval-set matrix and
    a contamination flag, in one shuffle-free ``mapInPandas`` pass.

    Near-paraphrases of eval items survive n-gram decontamination (no
    shingle overlap) but not this: embedding cosine catches reworded
    contamination, which is why production pipelines run BOTH gates.

    Scale shape: identical to :func:`knn_join`'s broadcast-GEMM kernel
    but reduced ROW-WISE (max + argmin-id over the eval axis), so the
    output is one row per corpus vector and the plan has NO exchange at
    all — scan → GEMM → project. The only collect is the eval set, a
    bounded benchmark suite by contract (same contract as the
    text-shingle decontaminator's broadcast probe). Ties on the max
    break to the smallest eval id (cross-engine deterministic)."""
    import numpy as np
    import pandas as pd

    erows = eval_set.select(id_col, vec_col).collect()
    out_schema = (
        f"{id_col} {dict(corpus.dtypes)[id_col]}, "
        "max_eval_cosine double, "
        f"nearest_eval {dict(eval_set.dtypes)[id_col]}, "
        "contaminated boolean"
    )
    if not erows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    eids = np.array([r[0] for r in erows])
    E, en = q_matrix([r[1] for r in erows])
    be = corpus.sparkSession.sparkContext.broadcast((eids, E, en))

    def score(batches):
        eids_b, E_b, en_b = be.value
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])
            if not len(pdf):
                continue
            M, cn = q_matrix(pdf[vec_col])
            cos = (M @ E_b.T).astype(np.float64) / np.outer(cn, en_b)
            mx = cos.max(axis=1)
            # smallest eval id among exact-max ties
            nearest = np.array(
                [eids_b[cos[i] == mx[i]].min() for i in range(len(mx))]
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_eval_cosine": mx,
                    "nearest_eval": nearest,
                    "contaminated": mx >= threshold,
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
