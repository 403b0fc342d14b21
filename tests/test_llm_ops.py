"""Unit tests for the LLM-pipeline operator library over controlled
in-memory corpora (the oracle gate covers the testdata-scale behavior;
these pin the operator semantics)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from polars_gdal_spark.functions import dedup as D
from polars_gdal_spark.functions import similarity as S
from polars_gdal_spark.functions import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc bigint, text string")


def test_exact_dedup(spark, docs):
    assert D.exact_dedup(docs, "text").count() == 4
    groups = D.exact_dup_groups(docs, "doc", "text").collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["representative_id"] == 1


def test_shingles_short_text_empty(spark, docs):
    sh = D.shingle_table(docs.where("doc = 5"), "doc", "text", 3)
    assert sh.count() == 0


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = {r["doc"]: tuple(r["sig"]) for r in
            D.minhash_signatures(docs, "doc", "text", 16, 3).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    assert 5 not in sigs  # no shingles → no signature row


def test_minhash_lsh_finds_dup_pair(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs, "doc", "text", 16, 4, 3).collect()
    }
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_values(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc", "text", 3, 0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_grouped_plan_matches_self_join(spark, docs):
    """The grouped-array plan must return exactly the pairs of the
    reference formulation (shingle self-join), jaccard included."""
    from polars_gdal_spark.functions.dedup import shingle_table

    got = D.ngram_jaccard_pairs(docs, "doc", "text", 3, 0.1)
    sh = shingle_table(docs, "doc", "text", 3)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    ref = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
             ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.1)
    )
    key = lambda r: (r["doc_a"], r["doc_b"], r["jaccard"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, ref.collect()))


def test_minhash_lsh_degenerate_bucket_capped(spark):
    """Adversarial corpus: many docs with IDENTICAL text land in one LSH
    bucket per band. With max_bucket below the flood size the bucket is
    dropped before membership collection (no O(bucket²) pair explosion);
    a genuine small near-dup cluster in the same corpus still pairs."""
    flood = [(i, "common boilerplate template text repeated verbatim always")
             for i in range(100)]
    pair = [(200, "unique story about a fox crossing a frozen river at dawn"),
            (201, "unique story about a fox crossing a frozen river at dusk")]
    df = spark.createDataFrame(flood + pair, "doc bigint, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(
            df, "doc", "text", 16, 4, 3, max_bucket=64
        ).collect()
    }
    assert (200, 201) in pairs
    assert not any(a < 100 and b < 100 for a, b in pairs)  # flood dropped
    # raising the cap re-admits the flood: 100*99/2 pairs + the cluster
    uncapped = D.minhash_lsh_pairs(
        df, "doc", "text", 16, 4, 3, max_bucket=1000
    ).count()
    assert uncapped == 100 * 99 // 2 + 1


def test_ngram_jaccard_hot_shingle_capped(spark):
    """Adversarial corpus: one boilerplate sentence shared by every doc.
    With the DF cap the shared shingles drop out of the join, so the
    pair count is bounded by real (rare-shingle) overlap instead of
    flood² — and docs whose only commonality is boilerplate never pair."""
    n = 60
    rows = [
        (i, f"all rights reserved copyright footer text plus unique token{i}"
            f" extra{i} more{i}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc bigint, text string")
    capped = D.ngram_jaccard_pairs(
        df, "doc", "text", n=3, threshold=0.01, max_shingle_df=50
    )
    uncapped = D.ngram_jaccard_pairs(
        df, "doc", "text", n=3, threshold=0.01, max_shingle_df=10**6
    )
    assert capped.count() == 0  # only boilerplate overlaps → all dropped
    assert uncapped.count() == n * (n - 1) // 2  # flood² without the cap


def test_simhash_near_dups_close(spark, docs):
    sh = {r["doc"]: r["simhash"] for r in
          D.simhash_bits(docs, "doc", "text", 32).collect()}
    assert sh[1] == sh[2]
    ham_near = sum(a != b for a, b in zip(sh[1], sh[3]))
    ham_far = sum(a != b for a, b in zip(sh[1], sh[4]))
    assert ham_near < ham_far


def test_cosine_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.where("vec_id = 0")
    top = S.cosine_topk(emb, q, k=3).collect()
    assert top[0]["vec_id"] == 1 and abs(top[0]["cosine"] - 1.0) < 1e-9
    assert top[1]["vec_id"] == 3
    assert top[2]["vec_id"] == 2 and abs(top[2]["cosine"]) < 1e-9


def test_pairwise_cosine_blocked(spark):
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [1.0, 0.01], "a"),
        (2, [1.0, 0.0], "b"),  # identical to 0 but different block
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    )
    pairs = S.pairwise_cosine(
        emb, group_col="label", threshold=0.9
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_lang_guess_and_quality(spark):
    rows = [
        (1, "the cat and the dog is with of"),
        (2, "el la de que los hola"),
        (3, "xyzzy qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc bigint, text string")
    got = {
        r["doc"]: r["lg"]
        for r in df.select("doc", T.lang_guess(F.col("text")).alias("lg")).collect()
    }
    assert got == {1: "en", 2: "es", 3: "und"}

    q = T.quality_features(df.where("doc = 1"), "text").first()
    assert q["n_tokens"] == 8
    assert q["n_stopwords"] == 5  # the, and, the, is, of
    assert q["stopword_ratio"] == 0.625


def test_fingerprint_prefix_sensitivity(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2, "alpha beta gamma delta epsilon zeta eta theta DIFFERENT"),
        (3, "different start entirely for this document here now"),
    ]
    df = spark.createDataFrame(rows, "doc bigint, text string")
    fp = {
        r["doc"]: r["fp"]
        for r in df.select(
            "doc", T.fingerprint(F.col("text"), 8).alias("fp")
        ).collect()
    }
    assert fp[1] == fp[2]  # same first-8-token prefix
    assert fp[1] != fp[3]


def test_knn_join_matches_bruteforce(spark):
    """knn_join (partition-local GEMM + global merge) must equal the
    single-query brute force for every query, including across a
    many-partition corpus (exercises the local-top-k merge)."""
    import pyspark.sql.functions as F

    from polars_gdal_spark.functions import similarity as S
    from polars_gdal_spark.queries import load_tables

    from tests.conftest import SF_SMOKE

    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    corpus = emb.where(F.col("vec_id") >= 10).repartition(7)
    queries = emb.where(F.col("vec_id") < 3)
    got = {
        (r["qid"], r["vec_id"])
        for r in S.knn_join(corpus, queries, k=4).collect()
    }
    want = set()
    for q in range(3):
        for r in S.cosine_topk(
            corpus, emb.where(F.col("vec_id") == q), k=4
        ).collect():
            want.add((q, r["vec_id"]))
    assert got == want


def test_benchmark_contamination(spark, docs):
    """Docs 1-3 share 3-grams with the benchmark doc; 4 is clean; 5 is
    too short to shingle (contamination defined as 0.0)."""
    bench = spark.createDataFrame(
        [("the quick brown fox jumps",)], "text string"
    )
    got = {
        r["doc"]: r
        for r in D.benchmark_contamination(
            docs, bench, "doc", "text", "text", n=3
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    # bench text has three 3-grams, all present in docs 1/2
    assert got[1]["n_overlap"] == 3 and got[2]["n_overlap"] == 3
    assert got[1]["n_shingles"] == 7
    assert got[1]["contamination"] == pytest.approx(3 / 7)
    assert got[3]["n_overlap"] == 3  # shares the same prefix 3-grams
    assert got[4]["n_overlap"] == 0 and got[4]["contamination"] == 0.0
    assert got[5]["n_shingles"] == 0 and got[5]["contamination"] == 0.0


def test_benchmark_contamination_broadcasts_eval_side(spark, docs):
    bench = spark.createDataFrame([("the quick brown fox",)], "text string")
    plan = D.benchmark_contamination(
        docs, bench, "doc", "text", "text", n=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tfidf_topk(spark):
    rows = [
        (1, "apple apple banana shared"),
        (2, "banana cherry shared"),
        (3, "cherry date shared shared"),
    ]
    df = spark.createDataFrame(rows, "doc bigint, text string")
    got = {
        (r["doc"], r["term"]): (r["tf"], r["df"])
        for r in T.tfidf_topk(df, "doc", "text", k=2).collect()
    }
    # doc 1: apple tf=2 df=1 (score 2.0) then banana tf=1 df=2 (0.5)
    assert got[(1, "apple")] == (2, 1)
    assert got[(1, "banana")] == (1, 2)
    # "shared" (df=3) never makes top-2 for doc 1 or 2
    assert (1, "shared") not in got and (2, "shared") not in got
    # doc 3: date tf=1 df=1 (1.0), shared tf=2 df=3 (0.667) beats cherry (0.5)
    assert got[(3, "date")] == (1, 1)
    assert got[(3, "shared")] == (2, 3)
    assert len([k for k in got if k[0] == 3]) == 2


def test_tfidf_plan_group_limit(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc bigint, text string")
    plan = (
        T.tfidf_topk(df, "doc", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_kmeans_lloyd_separates_clusters(spark):
    # two tight clusters on orthogonal axes; ids 0 and 10 seed k=2
    rows = [(i, [1.0 + 0.01 * i, 0.02 * i]) for i in range(5)] + [
        (10 + i, [0.02 * i, 2.0 + 0.01 * i]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = {
        r["vec_id"]: r["embedding"]
        for r in S.kmeans_lloyd(df, k=2, iters=3).collect()
    }
    assert set(cents) == {0, 1}  # seeded from the two smallest ids
    vals = list(cents.values())
    # Lloyd separates the clusters: one centroid per axis
    assert sorted(v[0] > v[1] for v in vals) == [False, True]
    # deterministic under repartitioning (integer-sum update step)
    again = {
        r["vec_id"]: r["embedding"]
        for r in S.kmeans_lloyd(df.repartition(7), k=2, iters=3).collect()
    }
    assert again == cents


def test_pii_scrub(spark):
    rows = [
        (1, "mail a.b-c@foo.io and 192.168.0.1 call +1 555 123 4567 done"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc bigint, text string")
    got = {r["doc"]: r for r in T.pii_scrub(df, "text").collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 1)
    assert got[1]["text_scrubbed"] == "mail <EMAIL> and <IPV4> call <PHONE> done"
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)
    assert got[2]["text_scrubbed"] == "nothing sensitive here"


def test_heavy_hitters_exact_vs_bruteforce(spark):
    """Misra-Gries candidates + exact verify equals the brute-force
    answer for any partitioning — including skew where one partition
    holds most of a hitter's mass."""
    from polars_gdal_spark.functions.sketch import heavy_hitters

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 120
        + [(f"cold{i}",) for i in range(400)]
    )
    df = spark.createDataFrame(rows, "token string")
    for parts in (1, 7):
        got = {
            (r["token"], r["n"])
            for r in heavy_hitters(
                df.repartition(parts), "token", phi_denom=10
            ).collect()
        }
        # n = 1020; threshold n/10 = 102 → hot(500) and warm(120) only
        assert got == {("hot", 500), ("warm", 120)}


def test_heavy_hitters_sketch_memory_bounded(spark):
    """Candidate kernel keeps at most m counters even over a stream of
    mostly-distinct values."""
    import pandas as pd

    from polars_gdal_spark.functions.sketch import _mg_candidates

    run = _mg_candidates(8, "v")
    batches = [pd.DataFrame({"v": [f"x{i}" for i in range(1000)]})]
    [out] = list(run(iter(batches)))
    assert len(out) <= 8


def test_simhash_pairs_banding_guarantee(spark, docs):
    """Pairs within hamming ≤ 3 are found through the band equi-join
    (exact dup → hamming 0; near dup → small hamming), and the exact
    refine never admits a pair beyond the budget."""
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_pairs(docs, "doc", "text", max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0  # exact duplicates collide fully
    assert all(h <= 3 for h in got.values())
    # the unrelated doc 4 never pairs with the fox docs
    assert not any(4 in p for p in got)


def test_simhash_pairs_bad_band_split(spark, docs):
    with pytest.raises(ValueError):
        D.simhash_pairs(docs, "doc", "text", max_hamming=4, bits=32)


def test_heavy_hitters_non_string_and_counter_guard(spark):
    from polars_gdal_spark.functions.sketch import heavy_hitters

    df = spark.createDataFrame(
        [(7,)] * 50 + [(i,) for i in range(40)], "k bigint"
    )
    out = heavy_hitters(df, "k", phi_denom=4).collect()
    assert [(r["k"], r["n"]) for r in out] == [(7, 51)]
    assert out[0]["k"] == 7 and isinstance(out[0]["k"], int)  # dtype kept

    with pytest.raises(ValueError, match="sketch_counters"):
        heavy_hitters(df, "k", phi_denom=8, sketch_counters=4)


def test_char_diversity_values(spark):
    from polars_gdal_spark.functions.text import char_diversity

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "a b!")], "doc_id bigint, text string"
    )
    d = char_diversity(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            d["chars_n"].alias("n"),
            d["distinct_chars"].alias("k"),
            d["char_simpson"].alias("s"),
        ).collect()
    }
    assert rows[1]["k"] == 1 and rows[1]["s"] == 1.0      # aaaa: all one char
    assert rows[2]["k"] == 2 and rows[2]["s"] == 0.5      # abab: 4+4 over 16
    # 'a b!': a=1, b=1, space=1, other(!)=1 -> 4 buckets, 4/16
    assert rows[3]["k"] == 4 and rows[3]["s"] == 0.25


def test_chunk_documents_window_edges(spark):
    from polars_gdal_spark.queries import QUERIES
    import tempfile, os

    # 350 chars: chunks at 0 (len 200), 150 (len 200), 300 (len 50)
    text = "x" * 349 + "y"
    sf = tempfile.mkdtemp()
    for name in os.listdir("/root/testdata/sf0.001"):
        if name != "documents.parquet":
            os.symlink(f"/root/testdata/sf0.001/{name}", os.path.join(sf, name))
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = QUERIES["pipeline_chunk_documents"].func(spark, sf).collect()
    by_id = {r["chunk_id"]: r for r in out}
    assert sorted(by_id) == [0, 1, 2]
    assert [by_id[i]["chunk_len"] for i in (0, 1, 2)] == [200, 200, 50]
    # overlap: chunk 1 covers [150, 350) -> includes the final 'y'
    import hashlib
    assert by_id[2]["chunk_md5"] == hashlib.md5(
        text[300:350].encode()
    ).hexdigest()


def test_cosine_range_matches_bruteforce(spark):
    import random

    from polars_gdal_spark.functions import similarity as S

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    probes = emb.where(F.col("vec_id") < 2)
    got = {
        (r["qid"], r["vec_id"]): r["cosine"]
        for r in S.cosine_range(emb, probes, threshold=0.5).collect()
    }
    # brute force on the quantized ints (the engine contract)
    import math

    def q(v):
        return [math.floor(float(x) * 1_000_000) for x in v]

    exp = {}
    for qid, qv in rows[:2]:
        for vid, v in rows:
            if vid == qid:
                continue
            a, b = q(qv), q(v)
            dot = sum(x * y for x, y in zip(a, b))
            cos = dot / (
                math.sqrt(sum(x * x for x in b)) * math.sqrt(sum(x * x for x in a))
            )
            if cos >= 0.5:
                exp[(qid, vid)] = cos
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-12)


def test_ivf_index_persistence_and_partition_pruning(spark, tmp_path):
    """save_ivf_index writes cell-partitioned parquet; indexed probe
    search returns exactly what the on-the-fly search returns AND reads
    only the probed cell directories (file-level partition pruning —
    the IVF inverted list realized as Spark partition dirs)."""
    import os

    from polars_gdal_spark.functions.similarity import (
        ivf_search,
        load_ivf_index,
        save_ivf_index,
        ivf_search_indexed,
    )
    from polars_gdal_spark.queries import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    centroids = emb.where(F.col("vec_id") < 8)
    qv = emb.where(F.col("vec_id") == 0)
    idx = str(tmp_path / "ivf")
    save_ivf_index(emb, centroids, idx)
    # one directory per cell
    dirs = [d for d in os.listdir(idx + "/cells") if d.startswith("centroid_id=")]
    assert len(dirs) == 8

    live = ivf_search(emb, centroids, qv, k=5, n_probe=2).collect()
    stored = ivf_search_indexed(spark, idx, qv, k=5, n_probe=2).collect()
    assert [(r["vec_id"], r["cosine"]) for r in stored] == [
        (r["vec_id"], r["cosine"]) for r in live
    ]

    # pruning: an isin filter on the partition column reads ONLY those
    # cell directories (file-level pruning = the IVF inverted list)
    cells_df, _ = load_ivf_index(spark, idx)
    cand = cells_df.where(F.col("centroid_id").isin([3, 6]))
    n_expected = cells_df.where("centroid_id IN (3, 6)").count()
    assert cand.count() == n_expected > 0
    qe = cand._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "PartitionFilters: [centroid_id" in plan
    # file-level proof: the executed scan's numFiles metric counts only
    # the probed directories' files (8 cells -> 8 files unpruned).
    # Execute THIS query execution (count() above spawned its own).
    qe.executedPlan().execute().count()
    scan = qe.executedPlan().collectLeaves().apply(0)
    num_files = scan.metrics().apply("numFiles").value()
    total_files = sum(
        1
        for d in dirs
        for f in os.listdir(os.path.join(idx, "cells", d))
        if f.endswith(".parquet")
    )
    assert num_files < total_files
    assert num_files == sum(
        1
        for d in ("centroid_id=3", "centroid_id=6")
        for f in os.listdir(os.path.join(idx, "cells", d))
        if f.endswith(".parquet")
    )


def test_persisted_dedup_index_rolling_increments(spark, tmp_path):
    """Rolling-crawl dedup index: save once, probe increments against the
    stored KEY SETS, append each ingested increment. Increment N+1 never
    rescans corpus text — proven by deleting the corpus source before
    probing."""
    import shutil

    corpus_pq = str(tmp_path / "corpus.parquet")
    idx = str(tmp_path / "dedup_index")
    base_rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "spark shuffles hash partitions across the cluster ring"),
        (2, "completely unrelated text about cooking pasta al dente"),
    ]
    spark.createDataFrame(base_rows, "doc bigint, text string").write.parquet(
        corpus_pq
    )
    corpus = spark.read.parquet(corpus_pq)
    D.save_dedup_index(corpus, idx, n_hashes=16, bands=4, shingle_n=3)

    # reference flags computed the in-memory way, BEFORE the source dies
    batch_b = spark.createDataFrame(
        [
            (10, base_rows[0][1]),  # exact copy -> exact+near
            (11, base_rows[1][1] + " tail"),  # mutant -> near only
            (12, "novel content that matches nothing in the corpus"),
        ],
        "doc bigint, text string",
    )
    expected = {
        r["doc"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in D.incremental_dedup_flags(
            batch_b, corpus, "doc", "text"
        ).collect()
    }

    shutil.rmtree(corpus_pq)  # corpus text is GONE — only the index remains

    got = {
        r["doc"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in D.probe_dedup_index(batch_b, idx).collect()
    }
    assert got == expected
    assert got[10] == (1, 1) and got[11][0] == 0 and got[12] == (0, 0)

    # ingest increment B, then increment C must see B's keys via append
    D.append_dedup_index(batch_b, idx)
    batch_c = spark.createDataFrame(
        [
            (20, base_rows[0][1]),  # still caught (original corpus keys)
            (21, "novel content that matches nothing in the corpus"),  # = doc 12
            (22, "a third thing never seen before in any increment"),
        ],
        "doc bigint, text string",
    )
    got_c = {
        r["doc"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in D.probe_dedup_index(batch_c, idx).collect()
    }
    assert got_c[20] == (1, 1)
    assert got_c[21] == (1, 1)  # dup of ingested increment B
    assert got_c[22] == (0, 0)

    # the probe plan must touch ONLY index parquet, never any text source
    plan = D.probe_dedup_index(batch_c, idx)._jdf.queryExecution().toString()
    assert "corpus.parquet" not in plan


def test_connected_components_chain_and_convergence_contract(spark):
    """Unit pin for the round-8 one-union label loop: a 30-node path
    (worst case for min-label propagation — the label travels one hop
    per round), two disjoint triangles and an isolated pair must all
    resolve to their minimum ids; and a max_iter smaller than the
    diameter must raise (round 8 removed the silent-unconverged-return
    mode) rather than return stale labels."""
    import pytest

    chain = [(i, i + 1) for i in range(100, 129)]  # path, diameter 29
    tris = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    pair = [(50, 51)]
    pairs = spark.createDataFrame(
        chain + tris + pair, "doc_a bigint, doc_b bigint"
    )
    # default path: this graph is far below _CC_LOCAL_MAX_EDGES, so the
    # round-11 single-task exact finish answers
    got = {
        r["doc"]: r["component"]
        for r in D.connected_components(pairs, max_iter=40).collect()
    }
    assert all(got[i] == 100 for i in range(100, 130))
    assert all(got[i] == 0 for i in (0, 1, 2))
    assert all(got[i] == 10 for i in (10, 11, 12))
    assert got[50] == 50 and got[51] == 50
    # the distributed loop path (local_max_edges=0 disables the local
    # finish — the 100 TB shape) must produce the IDENTICAL relation
    got_loop = {
        r["doc"]: r["component"]
        for r in D.connected_components(
            pairs, max_iter=40, local_max_edges=0
        ).collect()
    }
    assert got_loop == got
    # loop-path fail-loud contract: max_iter smaller than the diameter
    # raises rather than returning stale labels (the local path has no
    # iteration budget — it is a direct exact solve)
    with pytest.raises(ValueError, match="max_iter"):
        D.connected_components(pairs, max_iter=5, local_max_edges=0)
    # boundary: eccentricity EXACTLY max_iter converges (the +1
    # confirmation round must not count against the budget)
    path6 = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a bigint, doc_b bigint"
    )
    got6 = {
        r["doc"]: r["component"]
        for r in D.connected_components(
            path6, max_iter=6, local_max_edges=0
        ).collect()
    }
    assert all(got6[i] == 0 for i in range(7))


def test_connected_components_local_finish_edge_cases(spark):
    """Round-11 hybrid finish: the single-task exact solve must mirror
    the loop path row-for-row on degenerate inputs — self-loops (a node
    whose only edge is to itself must still appear in the output),
    duplicate and reversed-duplicate edges — and on the empty relation."""
    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (2, 3), (7, 8), (8, 7), (9, 9)],
        "doc_a bigint, doc_b bigint",
    )
    local = D.connected_components(pairs).collect()
    loop = D.connected_components(pairs, local_max_edges=0).collect()
    assert sorted(map(tuple, local)) == sorted(map(tuple, loop))
    got = {r["doc"]: r["component"] for r in local}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7, 9: 9}
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert D.connected_components(empty).count() == 0


def test_dedup_index_scheme_mismatch_fails_loudly(spark, tmp_path):
    """A persisted index written under a different MinHash scheme must
    fail the probe with a rebuild instruction, not silently return
    is_near_dup=0 for everything (round-8 review: signatures are
    recomputed by the probing library, so a stale index's band keys
    would simply never match)."""
    import pytest

    idx = str(tmp_path / "stale_index")
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc bigint, text string",
    )
    D.save_dedup_index(docs, idx)
    # simulate a pre-r8 index: params row without/with a different scheme
    spark.createDataFrame(
        [(16, 4, 3, "md5-seeded-v1")],
        "n_hashes int, bands int, shingle_n int, scheme string",
    ).write.mode("overwrite").parquet(idx + "/params")
    with pytest.raises(ValueError, match="scheme|rebuild"):
        D.probe_dedup_index(docs, idx).collect()


def test_adaptive_planes_sizing():
    from polars_gdal_spark.functions.similarity import adaptive_planes

    assert adaptive_planes(1_000) == 8          # floor
    assert adaptive_planes(1_000_000) == 14     # log2(1e6/64)
    assert adaptive_planes(10**12) == 24        # ceiling clamp
    assert adaptive_planes(0) == 8
    # monotonic in n
    vals = [adaptive_planes(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert vals == sorted(vals)


def test_pairwise_cosine_tiling_bit_exact_and_bounded(spark):
    """Two-level tiling (block_cap) must (a) produce bit-identical pairs
    to a single tile per group and (b) never hand the kernel a tile run
    of more than ~2 hash-balanced chunks — the bounded-task-memory
    contract (a dense per-group n² matrix would not fit one executor
    at scale)."""
    import numpy as np
    import pyspark.sql.functions as F

    from polars_gdal_spark.functions.similarity import pairwise_cosine

    rng = np.random.default_rng(11)
    rows = [
        (i, "g" if i % 7 else None, [float(x) for x in rng.normal(size=8)])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<float>"
    )

    def canon(out):
        return sorted(
            (r["id_a"], r["id_b"], repr(r["cosine"])) for r in out.collect()
        )

    single = canon(
        pairwise_cosine(df, group_col="label", threshold=-1.0,
                        block_cap=10**9)
    )
    tiled = canon(
        pairwise_cosine(df, group_col="label", threshold=-1.0, block_cap=32)
    )
    assert len(single) == (257 * 256) // 2 + (43 * 42) // 2
    assert tiled == single  # bit-exact incl. the null-label group

    # Task-size bound: replay the chunk assignment (same pmod/xxhash64
    # expressions) and check the largest tile (2 chunks) stays ~2×cap.
    cap = 32
    m = -(-257 // cap)  # null group is smaller; bound via biggest group
    chunk_sizes = (
        df.where(F.col("label").isNotNull())
        .select(F.pmod(F.xxhash64("vec_id"), F.lit(m)).alias("ck"))
        .groupBy("ck")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert 2 * chunk_sizes <= 4 * cap  # hash balance keeps tiles bounded


def _clustered_vecs(n_clusters=20, per=10, dim=16, seed=7, scale=0.08):
    import numpy as np

    rng = np.random.default_rng(seed)
    cent = rng.normal(size=(n_clusters, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = cent[c] + rng.normal(scale=scale, size=dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return rows


def test_multi_table_lsh_recovers_recall(spark):
    """L independent hyperplane tables recover pairs a single long-key
    table misses — the K/L trade that makes adaptive_planes usable.
    Fixture tuned so per-table collision probability is middling
    ((1-θ/π)^12 ≈ 0.3 at the truth pairs' cosine), where the L effect
    is the theory-predicted ~2× (deterministic seed → exact assert)."""
    rows = _clustered_vecs()
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    truth = {
        (r["id_a"], r["id_b"])
        for r in S.pairwise_cosine(df, threshold=0.9).collect()
    }
    assert len(truth) > 100, "fixture must contain many high-cosine pairs"

    def found(tables):
        got = S.lsh_bucketed_pairs(
            df, planes=12, threshold=0.9, tables=tables
        ).collect()
        return {(r["vec_a"], r["vec_b"]) for r in got}

    r1, r4 = found(1), found(4)
    assert r1 <= truth and r4 <= truth  # refinement keeps only real pairs
    assert r1 <= r4                     # union of tables only adds
    assert len(r4) >= 1.5 * len(r1)     # and substantially improves recall
    assert len(r4) >= 0.4 * len(truth)


def test_multi_table_single_table_consistency(spark):
    """tables=1 must be byte-identical to the original operator (the
    oracle-pinned sim_lsh_bucketed path)."""
    rows = _clustered_vecs(n_clusters=5, per=6)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    a = sorted(
        map(tuple, S.lsh_bucketed_pairs(df, planes=8, threshold=0.25).collect())
    )
    b = sorted(
        map(
            tuple,
            S.lsh_bucketed_pairs(
                df, planes=8, threshold=0.25, tables=1
            ).collect(),
        )
    )
    assert a == b


def test_srp_key_formulations_agree(spark):
    """The expression-form srp_bucket (the oracle writers' reference
    implementation) and the vectorized GEMM udf that production paths
    use must produce identical bucket keys — guards the seeded weight
    family from drifting between the two formulations."""
    import pyspark.sql.functions as F

    from polars_gdal_spark.functions.similarity import (
        _srp_keys_udf,
        srp_bucket,
    )

    rows = _clustered_vecs(n_clusters=4, per=5, dim=16)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = df.select(
        "vec_id",
        srp_bucket(F.col("embedding"), 10, table=0).alias("expr0"),
        srp_bucket(F.col("embedding"), 10, table=3).alias("expr3"),
        _srp_keys_udf(10, 4)(F.col("embedding")).alias("udf"),
    ).collect()
    for r in got:
        assert r["udf"][0] == f"0:{r['expr0']}"
        assert r["udf"][3] == f"3:{r['expr3']}"


def test_pq_adc_recall_and_compression(spark):
    """PQ/ADC must (a) compress to exactly m small ints per vector and
    (b) rank a clustered corpus well enough that ADC top-10 overlaps
    the exact cosine top-10 substantially (deterministic fixture →
    exact assert)."""
    from polars_gdal_spark.functions.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    rows = _clustered_vecs(n_clusters=10, per=20, dim=16, seed=3)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    C = pq_codebooks(df, m=4, k=16)
    assert C.shape == (4, 16, 4)
    enc = pq_encode(df.where("vec_id != 0"), C)
    first = enc.orderBy("vec_id").first()
    assert len(first["codes"]) == 4 and all(
        0 <= c < 16 for c in first["codes"]
    )
    qvec = rows[0][1]
    adc = {
        r["vec_id"]
        for r in pq_adc_topk(enc, C, qvec, k=10).collect()
    }
    exact = {
        r["vec_id"]
        for r in cosine_topk(
            df, df.where("vec_id = 0"), k=10
        ).collect()
    }
    # same 20-vector cluster as the query dominates both rankings
    assert len(adc & exact) >= 6, (sorted(adc), sorted(exact))


def test_ivfpq_recall_vs_exact(spark):
    """Fused IVF-PQ must rank a clustered corpus well enough that its
    ADC top-10 overlaps the exact cosine top-10 restricted to probed
    cells — and every returned id must belong to a probed cell."""
    import numpy as np

    from polars_gdal_spark.functions.similarity import (
        cosine_topk,
        ivfpq_adc_topk,
    )

    rows = _clustered_vecs(n_clusters=8, per=30, dim=16, seed=11)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cent = df.where("vec_id % 30 = 0")  # one seed per cluster
    corpus = df.where("vec_id >= 16 and vec_id % 30 != 0")
    qvec = rows[17][1]  # inside cluster 0
    got = ivfpq_adc_topk(
        corpus, cent, qvec, m=4, codebook_k=16, n_probe=2, k=10
    ).collect()
    assert len(got) == 10
    # distances are non-negative ints and non-decreasing
    dists = [r["adc_dist"] for r in got]
    assert dists == sorted(dists) and all(
        d >= 0 and d == int(d) for d in dists
    )
    exact = {
        r["vec_id"]
        for r in cosine_topk(
            corpus,
            spark.createDataFrame(
                [(99999, qvec)], "vec_id bigint, embedding array<float>"
            ),
            k=10,
        ).collect()
    }
    overlap = len({r["vec_id"] for r in got} & exact)
    assert overlap >= 5, (sorted(r["vec_id"] for r in got), sorted(exact))


def test_bpe_train_merges_textbook_corpus(spark, tmp_path):
    """The Sennrich et al. running example (low/lower/newest/widest)
    hand-traced under this trainer's tie-break (count desc, pair asc):
    merges must come out es, est, lo, low, ew, ewest with counts
    9, 9, 7, 7, 6, 6 — pinning merge semantics (ALL occurrences merge
    each round, boundaries exact) at the value level."""
    import os
    import shutil

    from polars_gdal_spark.queries import QUERIES, TABLE_NAMES

    src = "/root/testdata/sf0.001"
    for t in TABLE_NAMES:
        if t == "documents":
            continue
        p = f"{src}/{t}.parquet"
        if os.path.isdir(p):
            shutil.copytree(p, tmp_path / f"{t}.parquet")
        else:
            shutil.copy(p, tmp_path / f"{t}.parquet")
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id bigint, text string"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = (
        QUERIES["text_bpe_train_merges"]
        .func(spark, str(tmp_path))
        .orderBy("merge_round")
        .collect()
    )
    assert [(r["pair"], r["merged"], r["cnt"]) for r in got] == [
        ("e s", "es", 9),
        ("es t", "est", 9),
        ("l o", "lo", 7),
        ("lo w", "low", 7),
        ("e w", "ew", 6),
        ("ew est", "ewest", 6),
    ]


def test_pairwise_unblocked_guard(spark):
    """group_col=None is a nested-loop self-join: beyond the explicit
    small-side contract it must refuse loudly and point at the blocked
    path, never silently run O(n^2) at corpus scale."""
    import pytest

    big = spark.range(0, 25_000).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="nested-loop"):
        S.pairwise_cosine(big, threshold=0.99)


def test_ivfpq_zero_norm_vector_survives(spark):
    """A zero-norm corpus vector divides to NaN in the coarse
    assignment; argmax must fall through the NaN-to-+inf mapping (the
    ivf_assign tiebreak) instead of landing on the first NaN column —
    and the query must still return a clean top-k."""
    from polars_gdal_spark.functions.similarity import ivfpq_adc_topk

    rows = _clustered_vecs(n_clusters=4, per=20, dim=16, seed=7)
    rows = [
        (vid, [0.0] * 16 if vid == 33 else vec) for vid, vec in rows
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cent = df.where("vec_id % 20 = 0 and vec_id != 0")
    corpus = df.where("vec_id % 20 != 0")
    got = ivfpq_adc_topk(
        corpus, cent, rows[5][1], m=4, codebook_k=16, n_probe=4, k=5
    ).collect()
    assert len(got) == 5
    assert all(r["adc_dist"] == r["adc_dist"] for r in got)  # no NaN


def test_winnowing_guarantee(spark):
    """The SIGMOD 2003 contract: any shared token run of length
    >= w + k - 1 (= 6 here) MUST contribute at least one shared
    fingerprint; disjoint-vocabulary docs must share none."""
    from polars_gdal_spark.functions.dedup import winnowing_fingerprints

    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (0, f"one two three {shared_run} four five six"),
        (1, f"{shared_run} seven eight nine ten eleven twelve"),
        (2, "moon star cloud rain snow wind storm fog mist hail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    by_doc = {
        d: {r["fp"] for r in g}
        for d, g in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r["doc"]),
            key=lambda r: r["doc"],
        )
    }
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a fp"
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])


def test_winnowing_short_doc_single_fp(spark):
    """A doc with >= 1 k-gram but fewer than w selects exactly the
    global minimum (one covering window); sub-k docs select nothing."""
    from polars_gdal_spark.functions.dedup import winnowing_fingerprints

    df = spark.createDataFrame(
        [(0, "just four little words"), (1, "too short")],
        "doc_id long, text string",
    )
    got = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    assert [r["doc"] for r in got] == [0]


def test_winnowing_pairs_packed_and_guarded(spark):
    """Round 7 packs each (doc_a < doc_b) pair into one BIGINT for the
    dominant shuffle. Two contracts: near-dup pairs still come out
    exactly (unpacked doc_a/doc_b, shared count), and ids outside
    [0, 2^31) must fail the IN-PLAN assert loudly instead of silently
    colliding pair keys."""
    import pytest

    from polars_gdal_spark.functions.dedup import winnowing_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(7, text), (11, text), (23, "totally different words here "
                                        "nothing shared with the others")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_pairs(df, "doc_id", "text", k=3, w=4, min_shared=3)
    got = [(r["doc_a"], r["doc_b"], r["shared"]) for r in out.collect()]
    assert len(got) == 1 and got[0][:2] == (7, 11) and got[0][2] >= 3
    out.unpersist_sources()
    # id >= 2^31 in a shared group trips the pack guard
    big = spark.createDataFrame(
        [(2**31, text), (1, text)], "doc_id long, text string"
    )
    bad = winnowing_pairs(big, "doc_id", "text", k=3, w=4, min_shared=1)
    with pytest.raises(Exception, match="2\\^31|packed pair"):
        bad.count()
    bad.unpersist_sources()


def test_winnowing_pairs_int32_id_column(spark):
    """Round-7 ADVICE (medium): for an IntegerType id column Spark's
    shiftleft is 32-bit and wraps (shiftleft(1, 31) = -2^31), corrupting
    every packed pair key while the value-range guard passes. The pack
    must cast to BIGINT first, so int32 ids produce the same exact pairs
    as int64 ids."""
    from polars_gdal_spark.functions.dedup import winnowing_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(7, text), (11, text)]
    df32 = spark.createDataFrame(rows, "doc_id int, text string")
    out = winnowing_pairs(df32, "doc_id", "text", k=3, w=4, min_shared=3)
    got = [(r["doc_a"], r["doc_b"]) for r in out.collect()]
    assert got == [(7, 11)]
    out.unpersist_sources()


def test_bigram_lm_scores_repetitive_text_better(spark, tmp_path):
    """A document of corpus-frequent bigrams must score LOWER
    cross-entropy than one made of singleton bigrams."""
    import os
    import shutil

    from polars_gdal_spark.queries import QUERIES, TABLE_NAMES

    src = "/root/testdata/sf0.001"
    for t in TABLE_NAMES:
        if t == "documents":
            continue
        p = f"{src}/{t}.parquet"
        if os.path.isdir(p):
            shutil.copytree(p, tmp_path / f"{t}.parquet")
        else:
            shutil.copy(p, tmp_path / f"{t}.parquet")
    common = " ".join(["the cat sat"] * 20)
    rows = [(i, common) for i in range(9)]
    rows.append((9, "zyx wvu tsr qpo nml kji"))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r["ce"]
        for r in QUERIES["text_bigram_lm_score"]
        .func(spark, str(tmp_path))
        .collect()
    }
    assert out[9] == max(out.values())
    assert all(out[9] > out[i] for i in range(9))


def test_winnowing_doubling_matches_bruteforce(spark):
    """Round 10 replaced per-window array_min(slice) with sparse-table
    doubling (plus the RMQ overlap for non-power-of-two w). Pin the
    construction against a brute-force reference for every w shape:
    power of two, non-power, w=1, and docs shorter than w."""
    import hashlib

    rows = [
        (0, "a b c d e f g h i j k l m"),
        (1, "x y z x y z x y z"),  # repeated grams -> duplicate mins
        (2, "p q r s"),            # 2 grams, < w for w >= 3
        (3, "t u"),                # sub-k: no grams
    ]
    texts = dict(rows)
    k = 3

    def brute(text, w):
        tk = [t for t in text.lower().split(" ") if t]
        if len(tk) < k:
            return set()
        h = [
            int(
                hashlib.md5(
                    " ".join(tk[i : i + k]).encode()
                ).hexdigest()[:15],
                16,
            )
            for i in range(len(tk) - k + 1)
        ]
        if len(h) < w:
            return {min(h)}
        return {min(h[j : j + w]) for j in range(len(h) - w + 1)}

    from polars_gdal_spark.functions.dedup import winnowing_fingerprints

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for w in (1, 2, 3, 4, 5, 6, 7, 8):
        got = {}
        for r in winnowing_fingerprints(
            df, "doc_id", "text", k=k, w=w
        ).collect():
            got.setdefault(r["doc"], set()).add(r["fp"])
        for doc, text in texts.items():
            assert got.get(doc, set()) == brute(text, w), (
                f"w={w} doc={doc}"
            )


def test_pagerank_closed_form_degree_matches_edge_construction(spark):
    """Round 11 replaced the per-iteration edges/outdeg/join pipeline in
    graph_pagerank with the graph's closed-form out-degree
    (deg(u) = 2 − [7u+1 ≡ u] − [13u+5 ≡ u] (mod n)). Pin the identity
    against the original edge construction for n values that exercise
    every self-loop case: n=5 hits both kinds (u=4 self-loops on the
    7-edge since 7·4+1 ≡ 4, u=0 on the 13-edge since 13·0+5 ≡ 0), n=7
    hits the 7-edge only (u=1), n=12/n=500 have no solutions (gcd
    shares a factor with 6 resp. 12), so every deg is 2."""
    import pyspark.sql.functions as F

    for n in (5, 7, 12, 500):
        nodes = spark.range(n).select(F.col("id").alias("doc"))
        e1 = nodes.select(
            F.col("doc").alias("src"),
            ((F.col("doc") * 7 + 1) % n).alias("dst"),
        )
        e2 = nodes.select(
            F.col("doc").alias("src"),
            ((F.col("doc") * 13 + 5) % n).alias("dst"),
        )
        edges = e1.unionAll(e2).where(F.col("src") != F.col("dst"))
        ref = {
            r["src"]: r["deg"]
            for r in edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .collect()
        }
        deg = F.when(
            (F.col("doc") * 7 + 1) % n != F.col("doc"), 1
        ).otherwise(0) + F.when(
            (F.col("doc") * 13 + 5) % n != F.col("doc"), 1
        ).otherwise(0)
        got = {
            r["doc"]: r["deg"]
            for r in nodes.select("doc", deg.alias("deg")).collect()
        }
        for u in range(n):
            assert got[u] == ref.get(u, 0), f"n={n} u={u}"


def test_bigram_lm_vocab_counts_single_token_docs(spark, tmp_path):
    """Round 11 folded the vocabulary count into the bigram-type
    relation via (token, NULL) sentinel rows for 1-token docs. Pin the
    two contracts that rewrite depends on: (a) a single-token doc's
    token still counts toward the vocabulary — adding a 1-token doc
    with a NOVEL token must shift every other doc's cross-entropy
    (V appears in every ln((c2+1)/(c1+V)) term); (b) single-token docs
    themselves never appear in the output (no bigrams), exactly as
    before the rewrite."""
    import os
    import shutil

    from polars_gdal_spark.queries import QUERIES, TABLE_NAMES

    src = "/root/testdata/sf0.001"

    def build(extra_doc):
        d = tmp_path / f"corp_{extra_doc[1]}"
        d.mkdir()
        for t in TABLE_NAMES:
            if t == "documents":
                continue
            p = f"{src}/{t}.parquet"
            if os.path.isdir(p):
                shutil.copytree(p, d / f"{t}.parquet")
            else:
                shutil.copy(p, d / f"{t}.parquet")
        rows = [(i, "the cat sat on the mat") for i in range(6)]
        rows.append(extra_doc)
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(str(d / "documents.parquet"))
        return str(d)

    # corpus A: 1-token doc with a token already in the vocabulary;
    # corpus B: 1-token doc with a NOVEL token (vocab one larger)
    out_a = {
        r["doc_id"]: r["ce"]
        for r in QUERIES["text_bigram_lm_score"]
        .func(spark, build((6, "the")))
        .collect()
    }
    out_b = {
        r["doc_id"]: r["ce"]
        for r in QUERIES["text_bigram_lm_score"]
        .func(spark, build((6, "zzznovel")))
        .collect()
    }
    # (b) the 1-token doc is absent from both outputs
    assert 6 not in out_a and 6 not in out_b
    assert set(out_a) == set(out_b) == set(range(6))
    # (a) the novel sentinel token changed V, so every ce shifted
    for i in range(6):
        assert out_a[i] != out_b[i], f"doc {i}: vocab change invisible"


def test_random_projection_gemm_matches_literal_sum(spark, tmp_path):
    """Round 11 replaced embed_random_projection's 16-column
    F.aggregate(F.zip_with(...)) tower (interpreted HOFs) with one
    mapInArrow int64 GEMM. Pin the kernel against a pure-Python
    evaluation of the oracle's formula — qproj[j] = Σ_i q_i · JL[j][i]
    over q_i = floor(x_i · 1e6) — on vectors with negative, zero and
    near-boundary coordinates."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_gdal_spark.queries import QUERIES
    from polars_gdal_spark.queries.similarity import _JL

    vecs = [
        [0.0] * 64,
        [(-1) ** i * (i / 64.0) for i in range(64)],
        [0.999999] * 64,
        [-0.000001 * i for i in range(64)],
    ]
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
                "label": pa.array(["a"] * len(vecs)),
                "embedding": pa.array(
                    vecs, type=pa.list_(pa.float32())
                ),
            }
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    # the other tables the loader registers: empty stand-ins
    for name in (
        "lineitem", "orders", "customer", "part", "supplier",
        "nation", "region", "events", "documents",
    ):
        pq.write_table(pa.table({"_": pa.array([], type=pa.int64())}),
                       f"{sf_dir}/{name}.parquet")
    got = {
        (r["vec_id"], r["dim"]): r["qproj"]
        for r in QUERIES["embed_random_projection"]
        .func(spark, sf_dir)
        .collect()
    }
    assert len(got) == len(vecs) * 16
    for vid, v in enumerate(vecs):
        q = [math.floor(float(np32) * 1_000_000) for np32 in map(_f32, v)]
        for j in range(16):
            want = sum(qi * s for qi, s in zip(q, _JL[j]))
            assert got[(vid, j)] == want, (vid, j)


def _f32(x: float) -> float:
    """Round-trip through float32, matching the parquet column type."""
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]
