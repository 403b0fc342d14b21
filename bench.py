"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query warms up adaptively (repeats until back-to-back times stop
improving, max 4 — heavy-codegen plans need 3-4 executions before C2
JIT finishes), then three timed runs; the reported figure is the
MEDIAN of the three (count() forces full execution without driver
materialization overhead). Medians keep single-run host-contention
spikes (observed up to ±30%) from masquerading as regressions
round-over-round.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from polars_gdal_spark.queries import QUERIES  # noqa: E402
from polars_gdal_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "window_topn_per_group",
    "events_sessionize",
    "events_hourly_rollup",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_knn_bruteforce",
    "sim_knn_join",
    "sim_pairwise_label_blocked",
    "sim_lsh_bucketed",
    "text_token_counts",
    "text_quality_features",
    "q18_large_volume_customers",
    "geo_spatial_join_pip",
    "pipeline_training_prep",
    # round-2 additions
    "text_decontaminate",
    "text_tfidf_topk",
    "text_pii_scrub",
    "pipeline_hash_sample",
    "pipeline_domain_mix",
    "sim_kmeans_centroids",
    "events_funnel",
    "pipeline_training_prep_v2",
    "text_heavy_hitters",
    # round-2 continuation
    "dedup_chunk_exact",
    "text_repetition_signals",
    "pipeline_pack_sequences",
    "sim_ann_recall",
    "sim_ivf_knn_join",
    "events_zscore_outliers",
    # round-3 additions
    "pipeline_chunk_documents",
    "pipeline_train_val_test",
    "text_char_diversity",
    "sim_range_search",
    # round-3 continuation
    "text_bm25_rank",
    "percentiles_per_group",
    "events_mad_outliers",
    "text_vocab_coverage",
    "pipeline_temperature_mix",
    "dedup_incremental",
    "events_resample_gapfill",
    "share_of_total_revenue",
    "events_transition_matrix",
    "embed_mean_pool",
    "pipeline_split_leakage",
    # round-4 additions
    # build before probe: the build warms _DEDUP_INDEX_CACHE, so the
    # probe row measures the steady-state increment flagging a rolling
    # crawl actually runs (round 4 booked the one-time build against
    # the probe and read as 7.5x super-linear)
    "dedup_index_build",
    "dedup_index_probe",
    "multimodal_png_roundtrip",
    "text_rare_bigram_novelty",
    "multimodal_wav_roundtrip",
    "multimodal_video_pipeline",
    "sim_lsh_multitable",
    "graph_pagerank",
    # round-5 additions (explicit: ordering constraints live here —
    # build-before-probe, layout-before-colocated-join)
    "dedup_substring_windows",
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
    "sim_hard_negatives",
    "pipeline_zorder_layout",
    "join_bloom_prefilter",
    "pipeline_importance_resample",
    "multimodal_image_phash_dedup",
    "text_bpe_pair_counts",
    "join_fuzzy_entity_match",
    "events_top_paths",
    "text_pmi_collocations",
    "events_value_trend",
    "multimodal_audio_fingerprint_dedup",
    "dedup_containment_pairs",
    "text_phrase_search",
    "events_cusum_drift",
    "pipeline_data_profile",
    "scd2_customer_history",
    "graph_triangle_participation",
    "pipeline_bucketed_layout",
    "join_bucketed_colocated",
    "pipeline_agg_snapshot_build",
    "pipeline_incremental_agg",
    "percentiles_weighted",
    "profile_key_skew",
    "text_bpe_train_merges",
    "text_bpe_encode",
    "sim_semantic_decontaminate",
    "pipeline_dataset_diff",
    "sketch_user_overlap",
    "join_interval_binned",
    "sim_embedding_drift",
    "dedup_lsh_recall",
    "events_seasonality_lift",
    "events_conversion_wilson",
    "multimodal_scene_cuts",
    "join_scd2_pointintime",
]

# Round 6: the scale gate can only protect what it measures — 92 of 187
# registry queries had zero wall-time evidence at any sf (exactly how
# round 3 shipped the quadratic quartet round 4 caught). Default runs
# now cover the WHOLE registry: the curated HEADLINE order first (it
# encodes build-before-probe dependencies), then every remaining
# registry query in sorted order.
def _full_suite() -> list[str]:
    return HEADLINE + sorted(set(QUERIES) - set(HEADLINE))


# Queries whose measured figure depends on an in-process artifact a
# predecessor warms (index cache, bucketed tables, agg snapshot, BPE
# merge table). The builder must run first in the same JVM, or the
# dependent row re-pays its one-time build and reads super-linear (the
# round-4 dedup_index_probe lesson).
DEP_PAIRS = {
    "dedup_index_probe": "dedup_index_build",
    "join_bucketed_colocated": "pipeline_bucketed_layout",
    "pipeline_incremental_agg": "pipeline_agg_snapshot_build",
    "text_bpe_encode": "text_bpe_train_merges",
}


def _check_dep_order(names: list[str]) -> None:
    """Raise if the suite order runs a DEP_PAIRS dependent before its
    builder — silent acceptance would book the one-time build against
    the dependent row."""
    pos = {nm: i for i, nm in enumerate(names)}
    for dep, builder in DEP_PAIRS.items():
        if dep in pos and builder in pos and pos[builder] > pos[dep]:
            raise RuntimeError(
                f"bench suite order violates DEP_PAIRS: {builder!r} "
                f"must run before {dep!r}"
            )


def _canary_once(spark) -> float:
    """One execution of the fixed-work host-load canary: 20M generated
    rows, one 100k-key shuffle, zero data read — wall time depends only
    on host conditions, never on sf or repo code."""
    from pyspark.sql import functions as F

    t0 = time.time()
    # the trailing .count() is the ACTION that executes the canary
    # job — pin its expected cardinality so a refactor that drops
    # it (leaving a no-op plan build) fails loudly instead of
    # silently corrupting load normalization
    n = (
        spark.range(0, 20_000_000, 1, 32)
        .groupBy((F.col("id") % 100_000).alias("k"))
        .count()
        .count()
    )
    assert n == 100_000, f"calibration canary computed {n} groups"
    return time.time() - t0


def _calibration(spark) -> float:
    """Fixed-work host-load canary (round-8 verdict item 3): a constant
    job whose wall time depends only on host conditions — see
    :func:`_canary_once`. Every artifact carries it as
    ``calibration_sec`` so drift_audit can separate "the host was
    loaded" (calibration drifted too) from "the code regressed"
    (calibration steady) without anyone re-measuring; round 8's driver
    artifact read as a phantom 1.37x regression that took three
    artifacts and a fresh bench to dismiss. Median of 3 after 1 warmup,
    same discipline as the query timings."""
    _canary_once(spark)
    return round(statistics.median(_canary_once(spark) for _ in range(3)), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    names = sys.argv[1:] or _full_suite()  # optional per-query iteration
    _check_dep_order(names)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cal = _calibration(spark)
    timings = {}
    # Per-row-group canary TRACE (round-12, VERDICT r11 item 1b): the
    # run-level ``calibration_sec`` samples host load AROUND the run,
    # so sustained mid-run interference (the round-11 driver run:
    # window-family rows 4-6x their same-code values, canary quiet) is
    # invisible to it. One single canary execution after every
    # ``SPARK_GRAFT_CANARY_EVERY`` queries (default 10; 0 disables)
    # makes such a run adjudicable from the artifact alone: a loud
    # trace segment marks exactly which rows ran under interference.
    # Additive only — the one-line summary contract and the per-query
    # timing loop are byte-identical; the trace costs ~one canary
    # (~0.7 s quiet) per group, outside every timed region.
    canary_every = int(os.environ.get("SPARK_GRAFT_CANARY_EVERY", "10"))
    canary_trace: list[list] = []

    def timed_run(spec) -> float:
        t0 = time.time()
        df = spec.func(spark, sf_dir)
        # noop sink, NOT count(): count() lets Catalyst prune every
        # unreferenced projection, so map-only queries (per-doc rule
        # verdicts, signatures, scores) were timed as a bare scan —
        # measured at sf10: text_gopher_rules 0.16 s by count() vs
        # 1.72 s with its columns actually computed,
        # text_repetition_rules 1.4 vs 12.9 s. The noop data source
        # computes every output column and discards the rows — the
        # same work a real consumer pays, minus the sink. (Round 9;
        # artifacts before this point are NOT comparable for
        # map-shaped queries — see SCALE.md.)
        df.write.format("noop").mode("overwrite").save()
        t = time.time() - t0
        # Exercise the library's own cache-release contract on the
        # main path (round-7 ADVICE): operators that persist internal
        # relations expose unpersist_sources() — call it exactly the
        # way a looping library consumer would, so the hook is tested
        # by every bench run rather than only by unit tests.
        getattr(df, "unpersist_sources", lambda: None)()
        # Drop whatever the execution persisted, OUTSIDE the timed
        # region: every spec.func() call builds fresh DataFrames, so
        # internal persists (LSH bucket streams, shingle arrays) pile
        # up a new storage copy per execution — after ~50 queries x ~7
        # executions the eviction pressure inflated untouched
        # sub-second queries 1.5-2.5x (measured round 5; in isolation
        # the same queries re-ran at round-4 speed). Clearing between
        # runs both isolates queries and keeps each run honest (it
        # pays its own cache build, like a fresh job would).
        spark.catalog.clearCache()
        return t

    for qi, name in enumerate(names):
        spec = QUERIES[name]
        # Adaptive warmup: run until back-to-back times stabilize (the
        # heavy-codegen queries need 3-4 executions before C2 JIT
        # finishes compiling the generated code; measuring the ramp
        # reports compiler time, not query throughput — a one-time cost
        # that is irrelevant at any real corpus size). Capped at 4.
        prev = float("inf")
        for _ in range(4):
            t = timed_run(spec)
            if t > 0.8 * prev:  # no longer improving materially
                break
            prev = t
        runs = []
        for _ in range(3):
            runs.append(timed_run(spec))
        # Host-contention guard: if the three runs disagree by >25% of
        # the median, take two more and report the median of five — a
        # single GC pause or noisy-neighbor spike then lands in the
        # discarded tail instead of inflating the round-over-round
        # comparison.
        if (max(runs) - min(runs)) > 0.25 * statistics.median(runs):
            for _ in range(2):
                runs.append(timed_run(spec))
        timings[name] = round(statistics.median(runs), 3)
        if canary_every > 0 and (
            qi % canary_every == canary_every - 1 or qi == len(names) - 1
        ):
            canary_trace.append([name, round(_canary_once(spark), 3)])

    if sys.argv[1:]:
        # ad-hoc subset run: the full line is small — print it whole
        # so scale_audit/drift_audit can parse stdout directly
        print(json.dumps(_result(timings, sf, cal, canary_trace)))
    else:
        _emit_full(timings, sf, cal, canary_trace)


def _result(
    timings: dict[str, float],
    sf: str,
    cal: float | None,
    trace: list | None = None,
) -> dict:
    """The one artifact shape every consumer parses (driver, audits,
    subset stdout, detail files) — built in exactly one place so the
    paths cannot drift."""
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        # forcing sink used for the timed action — drift_audit refuses
        # to compare artifacts timed with different sinks (count()-era
        # artifacts lack the field and are pruned-plan measurements)
        "timed_sink": "noop",
    }
    if cal is not None:
        out["calibration_sec"] = cal
    if trace:
        # [["<last query of group>", canary_sec], ...] in suite order —
        # single executions, so read segments (not single samples)
        # against the quiet range before adjudicating neighbors
        out["canary_trace"] = trace
    return out


def _emit_full(
    timings: dict[str, float],
    sf: str,
    cal: float | None,
    trace: list | None = None,
) -> None:
    """Full-suite artifact: the per-query map is ~200 entries and
    growing — round 5's single line overflowed the driver's stdout
    tail capture and was truncated mid-object (BENCH_r05.json parsed:
    null). Write the full map to a detail file and emit a compact,
    always-parsable summary as the LAST stdout line. The detail name
    is UNIQUE per run (sf + epoch): a fixed name would alias every
    saved compact artifact to whatever ran last, silently neutering
    the round-over-round drift gate. Details live in the gitignored
    bench_artifacts/ dir (round-6 ADVICE: epoch-named files in the
    repo root grew without bound); promote a detail file with
    `git add -f` when its compact artifact is committed as canonical."""
    result = _result(timings, sf, cal, trace)
    total = result["value"]
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(repo_dir, "bench_artifacts"), exist_ok=True)
    detail_name = os.path.join(
        "bench_artifacts", f"BENCH_detail_sf{sf}_{int(time.time())}.json"
    )
    with open(os.path.join(repo_dir, detail_name), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "isolated_groups": 1,  # one JVM; the field keeps the line's shape
        "queries_file": detail_name,
        "timed_sink": "noop",
    }
    if cal is not None:
        summary["calibration_sec"] = cal
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
