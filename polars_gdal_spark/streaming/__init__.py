"""Structured Streaming surface.

The reference is batch-only (SURVEY §2.K); this module is the engine's
Spark-native extension: file-arrival micro-batches for the ``gdal``
source plus windowed/stateful recipes over event streams.

``GdalStreamReader`` (wired via ``GdalDataSource.streamReader``) treats
a directory as an append-only stream of vector files: the offset is a
lexicographic filename watermark, so replay is deterministic and
exactly-once per file. It is a FULL ``DataSourceStreamReader``: only the
directory listing happens on the driver (``latestOffset``); the feature
decode of each file in a batch runs as its own input partition on the
executors — the shape that keeps a high-rate file stream scalable,
unlike the Simple-reader API whose prefetch funnels every row through
the driver process.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSourceStreamReader, InputPartition


class GdalStreamReader(DataSourceStreamReader):
    """File-arrival micro-batch reader over a directory of vector files.

    Offsets are a lexicographic filename WATERMARK (``{"last": name}``)
    — stable under late-listing replays, unlike index slicing, which
    misaligns if a file whose name sorts before the watermark ever
    appears. (Consequence, shared with any watermark scheme: names must
    arrive in sorted order; a file sorting below the watermark is
    skipped.) Legacy ``{"n_files": N}`` index offsets from old
    checkpoints are still honored on the read path.

    ``maxFilesPerBatch`` caps how far ``latestOffset`` advances per
    micro-batch (admission control). Caveat: ``Trigger.AvailableNow``
    snapshots ONE ``latestOffset`` result as its target, so with a cap
    set a single run drains a single capped step — the Python
    stream-reader API has no admission-control hook for the engine's
    availableNow wrapper to iterate (verified empirically: 5 pending
    files at cap 2 → one batch of 2). To drain a capped backlog use
    :func:`drain_available_now` (loops availableNow runs against one
    checkpoint until no progress — batch-capped FULL drain), run
    continuous with ``processAllAvailable()``, or leave the cap off for
    availableNow runs. The engine holds the committed
    offset (checkpoint); this object's ``_last`` is only a monotone
    lower bound on it, re-learned from ``partitions``/``commit`` calls
    (the engine's authoritative offsets) — so after a checkpoint restart
    the reader either resumes at the replayed batch's end offset or
    walks forward through empty batches until the watermark passes the
    checkpoint. It never re-emits committed files, because ``partitions``
    only spans ``(start, end]`` as given by the engine.
    """

    def __init__(self, schema, options: dict):
        from polars_gdal_spark.sources.datasource import GdalDataSourceReader

        self.options = dict(options)
        self.path = options.get("path")
        self._reader = GdalDataSourceReader(schema, options)
        # Monotone lower bound on the engine's committed watermark.
        self._last: str = ""

    def _list_files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return [self.path] if os.path.exists(self.path) else []
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if os.path.isfile(os.path.join(self.path, f))
            and not f.endswith((".shx", ".dbf", ".prj", ".cpg", ".tmp"))
        )

    def _cap(self) -> int | None:
        v = self.options.get(
            "maxfilesperbatch", self.options.get("maxFilesPerBatch")
        )
        return int(v) if v is not None else None

    def initialOffset(self) -> dict:
        # Pure query — the engine may call this before or after
        # latestOffset; it must not move the watermark.
        return {"last": ""}

    def latestOffset(self) -> dict:
        pending = [f for f in self._list_files() if f > self._last]
        cap = self._cap()
        if cap is not None:
            pending = pending[:cap]  # engine re-polls for the rest
        if pending:
            self._last = pending[-1]
        return {"last": self._last}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from polars_gdal_spark.sources.datasource import GdalInputPartition
        from polars_gdal_spark.sources.formats import find_driver

        files = self._list_files()
        if "n_files" in start:  # legacy checkpoint offset
            lo_files = files[int(start["n_files"]) :]
        else:
            lo = start.get("last", "")
            lo_files = [f for f in files if f > lo]
        hi = end.get("last", "")
        # The engine's offsets are authoritative (e.g. a checkpoint
        # replay on restart) — fold them into the watermark bound.
        if hi > self._last:
            self._last = hi
        span = [f for f in lo_files if f <= hi]
        parts: list[InputPartition] = []
        for path in span:
            driver = find_driver(path, self._reader.allowed)
            layer = driver.list_layers(path, self.options)[0]
            parts.append(GdalInputPartition(path, layer))
        return parts

    def read(self, partition: InputPartition) -> Iterator:
        # Executor-side: full feature decode of one file/layer, exactly
        # the batch scan path (Arrow RecordBatches).
        return self._reader.read(partition)

    def commit(self, end: dict) -> None:
        last = end.get("last")
        if last is not None and last > (self._last or ""):
            self._last = last


# ----------------------------------------------------------- recipes


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window event rollup with late-data watermarking — the
    streaming twin of queries.relational.events_hourly_rollup. Works on
    both batch and streaming DataFrames (same plan text)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_user_activity(
    events: DataFrame,
    window_duration: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window per-user activity — overlapping windows exercise
    multi-assignment state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration, slide).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )


def stream_events(spark, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming source (schema pinned from the batch
    read; ns-timestamps converted exactly like queries.load_tables)."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(f"{sf_dir}")
    )
    return stream


def run_available_now(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drain a stream with the availableNow trigger into a memory sink and
    return the materialized result — the batch-equivalence test harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(query_name)


def drain_available_now(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_runs: int = 1000,
) -> DataFrame:
    """Batch-capped FULL drain of a backlog under ``availableNow``.

    A single availableNow run against a capped source (e.g.
    ``maxFilesPerBatch``) processes exactly one capped micro-batch: the
    engine snapshots one ``latestOffset`` result as its drain target and
    the Python stream-reader API exposes no admission-control hook for
    it to iterate (see ``GdalStreamReader``). This helper loops
    availableNow runs against the SAME checkpoint — each run resumes
    from the committed offset and takes the next capped step — until a
    run admits zero rows. The parquet sink plus the checkpoint give
    exactly-once across runs, so the result equals an uncapped drain.

    Append-mode sinks only (file sinks can't run ``complete``); for
    aggregated streams drain with ``processAllAvailable`` instead.
    """
    spark = stream_df.sparkSession
    for _ in range(max_runs):
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if sum(p["numInputRows"] for p in q.recentProgress) == 0:
            break
    return spark.read.parquet(out_dir)


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: the training-pipeline exact-dedup operator
    (functions.dedup.exact_dedup) re-expressed for continuous ingestion.
    ``dropDuplicatesWithinWatermark`` keys state on the content digest and
    expires it once event time passes the watermark — bounded state, so
    the stream runs forever; the batch operator's digest definition is
    reused verbatim so batch and stream agree row-for-row inside any
    watermark horizon."""
    return (
        docs.withWatermark(ts_col, watermark)
        .withColumn("digest", F.md5(F.lower(F.trim(F.col(text_col)))))
        .dropDuplicatesWithinWatermark(["digest"])
    )


def stream_click_purchase_pairs(
    events: DataFrame, max_gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a preceding
    click by the same user within ``max_gap``. Both sides carry
    watermarks and the join condition bounds purchase_ts to a finite
    interval after click_ts, so Spark can expire join state — the only
    shape under which an unbounded stream-stream join is feasible.
    Works identically on batch DataFrames (the equivalence test)."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select("c_user", "click_id", "purchase_id", "click_ts", "purchase_ts")


def streaming_decontaminate(
    stream: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Streaming twin of ``dedup.benchmark_contamination``: score each
    arriving document's n-gram overlap with a STATIC eval corpus.

    Stateless by construction — the benchmark's distinct shingle set is
    a broadcast one-row array (eval sets are thousands of docs; their
    n-gram vocabulary fits any executor), and per-document overlap is
    ``array_intersect`` against the document's own shingle array. No
    watermark, no state store, append-mode safe; the stream side never
    shuffles. Emits the same (n_shingles, n_overlap, contamination)
    columns as the batch operator.
    """
    from polars_gdal_spark.functions.dedup import word_shingles

    bench_row = F.broadcast(
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("s")
        )
        .distinct()
        .agg(F.collect_list("s").alias("_bench_shingles"))
    )
    sh = F.array_distinct(word_shingles(F.col(text_col), n))
    return (
        stream.crossJoin(bench_row)
        .withColumn("n_shingles", F.size(sh).cast("bigint"))
        .withColumn(
            "n_overlap",
            F.size(F.array_intersect(sh, F.col("_bench_shingles"))).cast(
                "bigint"
            ),
        )
        .withColumn(
            "contamination",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_overlap") / F.col("n_shingles").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_bench_shingles")
    )


def session_event_aggs(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-session aggregates via the native ``session_window`` — the
    state-store-backed sessionizer. The SAME expression runs in batch
    (where queries.relational.events_session_windows oracle-checks it)
    and under a watermark in streaming: sessions close once the
    watermark passes their gap-extended end, so state is bounded."""
    ev = events
    if events.isStreaming:
        ev = events.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def foreach_batch_idempotent_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Exactly-once file sink via ``foreachBatch`` + batch-id-keyed
    overwrite — the canonical idempotent-sink recipe for sinks without
    native transactional commit.

    Structured Streaming guarantees each micro-batch a stable
    ``batch_id`` that is REPLAYED (same id, same data) if the process
    dies between the sink write and the offset commit. Appending would
    duplicate that batch; instead each batch overwrites its OWN
    partition directory ``batch_id=<n>``, so a replay rewrites
    identical bytes and the sink converges to exactly-once regardless
    of where the failure landed. The output is a standard
    Hive-partitioned layout readable as one parquet table.

    Scale notes: foreachBatch hands over a regular DataFrame — the
    write below is a distributed parquet write (per-partition tasks),
    nothing driver-local; overwrite scope is one batch directory, never
    the table root.
    """

    def _write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def row_band_signatures(
    text_col,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> list:
    """Per-ROW MinHash band signatures as pure projection columns — no
    explode, no groupBy, no state. A document's signature depends only
    on its own shingle set, so each band signature is
    the ``'|'``-joined per-seed minima computed with array expressions
    over the row's own shingles: legal in a streaming ``select`` and
    append-mode safe. Values are identical to the batch
    ``functions.dedup.band_signatures`` (same one-md5 XOR-constant
    scheme — ``h_s = base ⊕ MINHASH_XOR_CONSTS[s]`` over the md5's
    56-bit prefix — and the same decimal ``concat_ws`` formatting;
    round 8 changed both paths together, the probe join key must not
    drift); the batch path keeps its explode + groupBy formulation
    because whole-stage codegen makes the exploded expression ~3×
    faster at corpus scale, while interpreted higher-order lambdas are
    fine at micro-batch size.

    Returns ``bands`` Columns (band 0..bands-1); rows with no shingles
    get NULL signatures (callers treat NULL as "no probe")."""
    from polars_gdal_spark.functions.dedup import word_shingles

    rows_per_band = n_hashes // bands
    sh = word_shingles(text_col, shingle_n)

    from polars_gdal_spark.functions.dedup import MINHASH_XOR_CONSTS

    if n_hashes > len(MINHASH_XOR_CONSTS):
        # same self-describing error as the batch twin — an index
        # saved with a large n_hashes must not die in an IndexError
        # deep inside column construction
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(MINHASH_XOR_CONSTS)} "
            "fixed MinHash seed constants"
        )

    def mh(s: int):
        def _h(x):
            m = F.md5(x)
            h1 = F.conv(F.substring(m, 1, 14), 16, 10).cast("bigint")
            return h1.bitwiseXOR(F.lit(MINHASH_XOR_CONSTS[s]))

        return F.array_min(F.transform(sh, _h))

    def band(b: int):
        parts = [mh(b * rows_per_band + r) for r in range(rows_per_band)]
        return F.when(
            F.size(sh) > 0, F.concat_ws("|", *parts)
        ).otherwise(F.lit(None).cast("string"))

    return [band(b) for b in range(bands)]


def streaming_probe_dedup_index(
    stream: DataFrame,
    index_path: str,
    id_col: str = "doc",
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``functions.dedup.probe_dedup_index``: flag each
    arriving document against a PERSISTED dedup index (the rolling-crawl
    shape, applied to the live crawl itself).

    Stateless by construction — every step is a projection or a
    STREAM-STATIC join (no watermark, no state store, append-safe; the
    static index side is NOT broadcast-hinted — at crawl scale the key
    sets are corpus-sized, and Spark's stream-static join handles a
    shuffled static side):

    * exact: left join on the content digest against ``{path}/digests``.
    * near: the row's ``bands`` band signatures are projection columns
      (:func:`row_band_signatures`); each probes the static
      ``{path}/bands`` key set for its band with its own stream-static
      left join, and the per-band hits fold with ``greatest`` — a fixed
      ``bands``-way join chain instead of the explode + groupBy the
      batch path uses (a streaming groupBy would need state).

    Emits ``(id_col, is_exact_dup, is_near_dup)`` with the same 0/1
    bigint semantics as the batch probe.
    """
    from polars_gdal_spark.functions.dedup import (
        _dedup_index_params,
        content_digest,
    )

    spark = stream.sparkSession
    n_hashes, bands, shingle_n = _dedup_index_params(spark, index_path)
    digests = (
        spark.read.parquet(index_path + "/digests")
        .dropDuplicates(["digest"])
        .withColumn("_e", F.lit(1))
    )
    band_keys = spark.read.parquet(index_path + "/bands").dropDuplicates(
        ["band", "band_sig"]
    )
    sigs = row_band_signatures(F.col(text_col), n_hashes, bands, shingle_n)
    out = stream.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("digest"),
        *[s.alias(f"_bs{b}") for b, s in enumerate(sigs)],
    ).join(digests, "digest", "left")
    hit_cols = []
    for b in range(bands):
        keys_b = (
            band_keys.where(F.col("band") == b)
            .select(F.col("band_sig").alias(f"_bs{b}"))
            .withColumn(f"_n{b}", F.lit(1))
        )
        out = out.join(keys_b, f"_bs{b}", "left")
        hit_cols.append(F.coalesce(F.col(f"_n{b}"), F.lit(0)))
    return out.select(
        id_col,
        F.coalesce("_e", F.lit(0)).cast("bigint").alias("is_exact_dup"),
        F.greatest(*hit_cols).cast("bigint").alias("is_near_dup"),
    )


def streaming_bloom_prefilter(
    stream: DataFrame,
    bitmap: list,
    key_col: str,
    n_hashes: int = 3,
) -> DataFrame:
    """Streaming twin of ``functions.bloom.bloom_might_contain``: drop
    arriving rows whose key cannot be in the (pre-built, broadcast-as-
    literal) Bloom bitmap — the first gate of a live-crawl pipeline,
    where the bitmap holds e.g. already-ingested URL keys or an
    allowlist, and the exact check (a stream-static join or an
    idempotent sink upsert) runs only on survivors.

    Stateless and append-safe: the filter is pure codegen'd integral
    arithmetic per row — no state store, no watermark, no join. False
    positives pass through (bounded by the bitmap sizing) and must be
    resolved by the exact stage downstream; true members are NEVER
    dropped, so the prefilter cannot lose data."""
    from polars_gdal_spark.functions.bloom import bloom_might_contain

    # pass the stream-side dtype so integral keys hash through the same
    # BIGINT cast the builder used (xxhash64 is type-sensitive; an
    # int-vs-bigint mismatch would silently drop every true member)
    return stream.where(
        bloom_might_contain(
            key_col,
            bitmap,
            n_hashes,
            key_type=dict(stream.dtypes).get(key_col),
        )
    )


# ----------------------------------------------------------------------
# Streaming incremental-aggregate maintenance — the live twin of
# queries.pipeline.pipeline_incremental_agg: a per-user partial-agg
# snapshot (count/sum/min/max — exact mergeable state) refreshed per
# micro-batch via foreachBatch, with VERSIONED snapshots so batch
# replays converge to exactly-once.


def _user_partials(df: DataFrame):
    import pyspark.sql.functions as F

    return df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "sum_cents"
        ),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def _merge_user_partials(a: DataFrame, b: DataFrame) -> DataFrame:
    import pyspark.sql.functions as F

    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )


def _snapshot_versions(snapshot_dir: str) -> list[int]:
    import os

    if not os.path.isdir(snapshot_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(snapshot_dir)
        if d.startswith("v=")
    )


def refresh_agg_snapshot(
    spark, batch_df: DataFrame, batch_id: int, snapshot_dir: str
) -> None:
    """Merge one micro-batch into the versioned snapshot.

    Exactly-once without a transactional store: each batch writes its
    OWN version directory ``v=<batch_id>`` computed from the latest
    version STRICTLY OLDER than itself. A replayed batch (same id, same
    data — Structured Streaming's contract) re-reads the same
    predecessor and overwrites ``v=<batch_id>`` with identical bytes,
    so the snapshot converges no matter where a failure landed. Old
    versions beyond the predecessor are pruned (the replay contract
    only ever needs max(v < batch_id)).

    At 100 TB: the merge unions |users|-bounded partials, not events —
    the micro-batch is the only thing scanned; listing/pruning versions
    is metadata work (here a local listdir; a cluster deployment lists
    the object store the same way)."""
    import shutil

    batch = _user_partials(batch_df)
    prev = [v for v in _snapshot_versions(snapshot_dir) if v < batch_id]
    if prev:
        cur = spark.read.parquet(f"{snapshot_dir}/v={max(prev)}")
        batch = _merge_user_partials(cur, batch)
    batch.write.mode("overwrite").parquet(f"{snapshot_dir}/v={batch_id}")
    for v in prev[:-1]:
        shutil.rmtree(f"{snapshot_dir}/v={v}", ignore_errors=True)


def streaming_incremental_agg(
    stream_df: DataFrame, snapshot_dir: str, checkpoint_dir: str
) -> None:
    """Drive ``refresh_agg_snapshot`` over a stream with availableNow —
    the continuous-aggregate (nightly-rollup gone live) pattern. Batch
    twin: ``_user_partials`` over the full static table; equivalence is
    pinned by pytest."""
    spark = stream_df.sparkSession

    def _refresh(df: DataFrame, batch_id: int) -> None:
        refresh_agg_snapshot(spark, df, batch_id, snapshot_dir)

    q = (
        stream_df.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_agg_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """The current (max-version) snapshot."""
    versions = _snapshot_versions(snapshot_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions in {snapshot_dir}")
    return spark.read.parquet(f"{snapshot_dir}/v={versions[-1]}")


# ----------------------------------------------------------------------
# Streaming ANN probe — query vectors arrive as a stream; each
# micro-batch probes the PERSISTED IVF index (functions.similarity.
# save_ivf_index) with per-query cell pruning and exact re-rank. The
# retrieval twin of streaming_probe_dedup_index.


def probe_ivf_batch(
    spark,
    batch_df: DataFrame,
    index_path: str,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe one (bounded) batch of query vectors against the index.

    Per-query IVF semantics, fully batch-side: rank cells per query by
    centroid cosine (centroids are driver-small by the IVF contract),
    keep each query's own top ``n_probe`` cells, scan ONLY the probed
    cell partitions (literal isin → PartitionFilters), and re-rank
    candidates exactly — Window PARTITIONED by query id. Per query this
    matches ``similarity.ivf_search_indexed`` (pinned by pytest)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from polars_gdal_spark.functions.similarity import (
        dot_q,
        load_ivf_index,
        norm_sq_q,
        quantize,
    )

    cells_df, centroids = load_ivf_index(spark, index_path)
    q = F.broadcast(
        batch_df.select(
            F.col(id_col).alias("qid"),
            quantize(F.col(vec_col)).alias("_qv"),
        ).withColumn("_qn", F.sqrt(norm_sq_q(F.col("_qv")).cast("double")))
    )
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        quantize(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", F.sqrt(norm_sq_q(F.col("_cv")).cast("double")))
    wq = Window.partitionBy("qid").orderBy(
        F.desc("_sim"), F.asc("centroid_id")
    )
    pairs = (
        c.crossJoin(q)
        .withColumn(
            "_sim",
            dot_q(F.col("_cv"), F.col("_qv"))
            / (F.col("_cn") * F.col("_qn")),
        )
        .withColumn("_rk", F.row_number().over(wq))
        .where(F.col("_rk") <= n_probe)
        .select("qid", "centroid_id")
    )
    probe_ids = [r["centroid_id"] for r in pairs.select("centroid_id").distinct().collect()]
    if not probe_ids:
        # derive the empty-result schema from the actual id dtypes (the
        # cosine_range idiom) — a hardcoded bigint would give this path
        # a different schema than the non-empty path for non-bigint id
        # columns, desyncing micro-batches in the per-batch parquet sink
        qid_t = dict(batch_df.dtypes)[id_col]
        vid_t = dict(cells_df.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"qid {qid_t}, {id_col} {vid_t}, cosine double"
        )
    cand = (
        cells_df.where(F.col("centroid_id").isin(probe_ids))
        .join(F.broadcast(pairs), "centroid_id")
        .join(
            F.broadcast(q.select("qid", "_qv", "_qn")), "qid"
        )
        .select(
            "qid",
            id_col,
            quantize(F.col(vec_col)).alias("_v"),
            "_qv",
            "_qn",
        )
        .withColumn("_n", F.sqrt(norm_sq_q(F.col("_v")).cast("double")))
        .select(
            "qid",
            id_col,
            (
                dot_q(F.col("_v"), F.col("_qv"))
                / (F.col("_n") * F.col("_qn"))
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        cand.withColumn("_rk", F.row_number().over(wk))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def streaming_ann_probe(
    stream_df: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Drive :func:`probe_ivf_batch` over a query-vector stream with
    availableNow; results land as the idempotent batch-id-keyed parquet
    layout (same exactly-once recipe as ``foreach_batch_idempotent_sink``
    — a replayed batch rewrites identical bytes into its own directory).

    At 100 TB: the index is the big, cold, partition-pruned side; each
    micro-batch of queries is the bounded broadcast side — retrieval
    latency tracks batch size, never corpus size."""
    spark = stream_df.sparkSession

    def _probe(df: DataFrame, batch_id: int) -> None:
        out = probe_ivf_batch(
            spark, df, index_path, k, n_probe, id_col, vec_col
        )
        out.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    q = (
        stream_df.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
