"""Structured Streaming ingest of star/interaction events (§7.5 extension —
the reference has no streaming; SURVEY.md §1.1).

The streaming queries REUSE the batch operators' shapes: a windowed
aggregation here produces the same schema as ``operators.sessions.
tumbling_agg``, so batch backfill and streaming tail write to one table
(the kappa pattern). Watermarks bound state for late data; session windows
use the native ``session_window`` (no custom applyInPandasWithState needed
for gap-based sessions — reserve that for truly custom state machines).

At scale: file-source streaming reads incrementally (maxFilesPerTrigger);
the windowed agg shuffles on (window, key) with state in the state store —
size it via watermark horizon × key cardinality, not input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from albedo_spark.schemas import EVENTS


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-source stream over an events parquet directory (schema pinned —
    streaming sources cannot infer)."""
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts with late-data watermark; schema matches the
    batch ``tumbling_agg`` so the two paths are interchangeable."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), key_col, "n_events", "avg_value")
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows (native ``session_window`` — merges
    adjacent state as events arrive; works identically in batch)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def user_ewma_stream(
    events: DataFrame,
    alpha: float = 0.3,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values — a
    genuinely custom state machine (order-dependent fold), which is what
    ``applyInPandasWithState`` exists for; gap sessions and tumbling aggs
    above stay on the native operators.

    State per user: (n_events, ewma, last event-time µs). Each micro-batch
    is folded in (ts, event_id) order — deterministic within a batch; across
    batches order is arrival order, the usual streaming-EWMA contract. Null
    values advance the clock/count but not the average. Emits one updated
    summary row per user per batch (outputMode=update).

    At scale this shuffles once on user_id per micro-batch and keeps O(1)
    state per user in the state store — no growth with stream length.
    """
    import pandas as pd  # local: executor-side dependency of the UDF only
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user_col} long, n_events long, ewma double, last_ts timestamp"
    )
    state_schema = "n long, ewma double, last_ts_us long"

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, ewma, last_us = state.get if state.exists else (0, None, None)
        # A large group arrives as SEVERAL pandas chunks (Arrow batch
        # slicing), in arbitrary relative order — sorting each chunk
        # independently folds out of order whenever a group straddles a
        # chunk boundary (bit us at sf0.1: 8/1500 users wrong). Within a
        # micro-batch the fold order contract is GLOBAL (ts, id) order for
        # the group, so buffer the batch's chunks and sort once; state
        # memory stays bounded by one group's rows per micro-batch.
        chunks = list(pdf_iter)
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values([ts_col, id_col])
        for ts, value in zip(pdf[ts_col], pdf[value_col]):
            n += 1
            last_us = int(pd.Timestamp(ts).value // 1000)
            if value is not None and not pd.isna(value):
                v = float(value)
                ewma = v if ewma is None else alpha * v + (1 - alpha) * ewma
        state.update((n, ewma, last_us))
        yield pd.DataFrame(
            {
                user_col: [user_id],
                "n_events": [n],
                "ewma": [ewma],
                "last_ts": [pd.Timestamp(last_us * 1000) if last_us else None],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def error_click_interval_join(
    events: DataFrame,
    window_seconds: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream self interval join: every error event paired with the
    SAME user's clicks in the preceding ``window_seconds`` — the streaming
    twin of the batch ``operators.rangejoin`` (q45), as two filtered
    derivatives of one source stream joined on key + event-time range.

    This is the stateful-join shape: both sides buffer rows in the state
    store until the other side's watermark passes the time bound in the
    join condition; the event-time range predicate is what lets Spark
    evict (without it an inner stream-stream join holds state forever).
    State per side ≈ input rate × (watermark horizon + window span) —
    independent of total stream length. Matches straddling micro-batch
    boundaries come from state, which is the property worth testing; a
    replay drained with a wide watermark emits exactly the batch join's
    pairs.
    """
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("c_ts") <= F.col("e_ts"))
    )
    return errors.join(clicks, cond, "inner").select("error_id", "click_id")


def run_to_files(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
):
    """Production sink: parquet files + ``checkpointLocation`` recovery.

    This is the deployable counterpart of ``run_to_memory``: the checkpoint
    directory holds the source's processed-file log, the sink's commit log,
    and the aggregation state store, so a stopped/killed query restarted
    with the SAME (path, checkpoint) pair resumes exactly where it left
    off — no reprocessing, no duplicate windows (exactly-once file sink).
    Windowed aggs must run in ``append`` mode here (parquet cannot retract):
    a window is written once, when the watermark passes its end.

    Drains all currently-available input (``availableNow``) then stops —
    call again after more data lands, or swap the trigger for a continuous
    deployment. Returns the terminated query handle.
    """
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete"):
    """Drain all available input into an in-memory table (tests/dev)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop repeated keys arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the ingest
    guard against at-least-once upstream delivery (replayed Kafka
    offsets, retried file drops).

    State holds one entry per distinct key seen inside the horizon and is
    evicted as the watermark advances — bounded by rate x horizon, never
    by stream length. Exactly the batch ``dropDuplicates(keys)`` result
    when the replay fits one horizon (pinned in tests)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def _drain(stream_df: DataFrame, apply, checkpoint: str):
    """Run ``apply(batch_df, batch_id)`` on each micro-batch of
    ``stream_df`` (``foreachBatch``, recovering from ``checkpoint``),
    drain all currently available input (``availableNow``), then stop.
    Returns the terminated query handle. Every store sink runs this way:
    call it again after more data lands."""
    q = (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_upsert(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    partition_cols: list[str],
):
    """Streaming MERGE: each micro-batch upserts into a partitioned
    parquet dataset via ``foreachBatch`` + ``operators.merge
    .upsert_partitioned`` — the table-format-free CDC sink (late updates
    overwrite their key in place, only touched partitions rewrite).

    foreachBatch gives at-least-once batch delivery on restart; the
    upsert is idempotent per batch (anti-join drops prior versions), so
    the sink converges to exactly-once EFFECTS — same contract a
    Delta/Iceberg MERGE sink provides, at day-partition granularity.
    Drains available input then stops; returns the query handle.
    """
    from albedo_spark.operators.merge import upsert_partitioned

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_partitioned(
            batch_df.sparkSession, batch_df, path, key_cols, partition_cols
        )

    return _drain(stream_df, _apply, checkpoint)


def _run_key_store_ingest(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    source_col: str,
    key,
    key_name: str,
    id_col: str,
    build_empty,
):
    """Shared sink core of the exact-key stores (digest, canonical URL):
    each micro-batch keeps the rows whose ``key`` (a Column over
    ``source_col``) is in no store row and whose id is the batch minimum
    for that key, writes them, then appends their keys. Rows with a
    NULL ``source_col`` are not ingested. ``build_empty(frame, table)``
    creates the store from an empty frame on the first batch."""
    from albedo_spark.io import append_rows

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not spark.catalog.tableExists(table):
            build_empty(batch_df.limit(0), table)
        store = spark.table(table).select(F.col(key_name).alias("_key"))
        hashed = batch_df.where(F.col(source_col).isNotNull()).withColumn(
            "_key", key
        )
        unseen = hashed.join(store, "_key", "left_anti")
        first = unseen.groupBy("_key").agg(F.min(id_col).alias(id_col))
        keep = unseen.join(first, ["_key", id_col]).persist()
        try:
            if keep.isEmpty():
                return
            keep.drop("_key").write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={batch_id}"
            )
            append_rows(
                keep.select(
                    F.col("_key").alias(key_name),
                    F.col(id_col).alias("keeper_id"),
                ),
                table,
            )
        finally:
            keep.unpersist()

    return _drain(stream_df, _apply, checkpoint)


def run_to_dedup_store(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
):
    """Streaming ingest dedup against the PERSISTED digest store
    (operators/dedup_store.py): each micro-batch keeps only never-seen
    texts — first occurrence within the batch (min id per digest) AND no
    digest in the store — then advances the store. The streaming twin of
    ``exact_dedup_incremental``: ``dedup_stream`` guards a watermark
    horizon; this guards ALL of history.

    Exactly-once novel-doc effects across restarts, without a table
    format, by making both writes idempotent in opposite ways:

    - novel rows land under ``out_path/ingest_batch=<id>`` with OVERWRITE
      — a replayed batch rewrites the same directory with the same rows
      (or, when its digests already reached the store, computes an empty
      keep-set and SKIPS the write rather than truncating it);
    - the digest append is an anti-join against the live store, so a
      replay appends nothing.

    Rows write before digests: a crash between the two replays into the
    same-directory overwrite, never duplicate rows. NULL-text rows carry
    no content and are not ingested (the ``exact_duplicates`` reporter
    precedent, not the ``exact_dedup`` pass-through — an ingest sink's
    output is novel CONTENT). Reading ``out_path`` back discovers
    ``ingest_batch`` as a partition column.
    """
    from albedo_spark.operators.dedup import normalize_text
    from albedo_spark.operators.dedup_store import build_digest_store

    return _run_key_store_ingest(
        stream_df, table, out_path, checkpoint, text_col,
        F.md5(normalize_text(F.col(text_col))), "digest", id_col,
        lambda empty, t: build_digest_store(
            empty, t, text_col, id_col, num_buckets
        ),
    )


def run_to_url_store(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    num_buckets: int = 16,
):
    """Streaming ingest dedup against the PERSISTED canonical-URL store
    (operators/dedup_store.py ``build_url_store`` — the URL rung,
    VERDICT r14 missing 2a): each micro-batch keeps only never-fetched
    canonical URLs — first occurrence within the batch (min id per
    canonical URL) AND no canonical URL in the store — then advances
    the store. The streaming twin of ``url_dedup_incremental``, and the
    FIRST rung a continuous crawl runs: a page dropped here never pays
    extraction, langid, digesting, or shingling at all. Same
    exactly-once recipe as ``run_to_dedup_store``; NULL-url rows carry
    no fetch identity and are not ingested."""
    from albedo_spark.functions.urls import canonicalize_url
    from albedo_spark.operators.dedup_store import build_url_store

    return _run_key_store_ingest(
        stream_df, table, out_path, checkpoint, url_col,
        canonicalize_url(F.col(url_col)), "canonical_url", id_col,
        lambda empty, t: build_url_store(
            empty, t, url_col, id_col, num_buckets
        ),
    )


def run_to_bm25_store(
    stream_df: DataFrame,
    table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
    forward: bool = False,
):
    """Streaming BM25 index maintenance — the lexical store's streaming
    twin, completing the persisted-store family's ingest posture (the
    digest/MinHash/SimHash/vector stores each have one; the BM25 store
    was rebuild-only until r13): the first micro-batch BUILDS the store
    (generation 0), every later batch lands as one more generation via
    ``append_bm25_postings``, so a continuously ingested corpus stays
    searchable between batches and search over the live store is
    byte-identical to a from-scratch rebuild over everything ingested
    (the append contract, pinned in tests).

    Replay safety needs no output-directory dance here because the
    store IS the sink and the replay IS the recovery: a restarted
    batch's doc ids are all in the store, ``admit_novel`` admits
    nothing, and no posting/stats row is written twice. Crash windows
    differ by stage. The FIRST batch follows the build's write order
    (stats → postings → forward companion): a crash before the posting
    write replays as a clean rebuild; with ``forward=True`` a crash
    between the posting and forward writes leaves the companion
    permanently absent — degraded, never incorrect (PRF serves from
    the documented posting-scan fallback, byte-identical results).
    LATER batches follow the append's order (bloom → postings →
    forward → stats), whose dangerous window — posting rows committed,
    stats row not — would strand an orphan generation a bare no-op
    replay never fills; ``append_bm25_postings``'s admitted-0 path
    therefore runs ``repair_bm25_store`` (ADVICE r13 #1), so the
    restarted batch itself reconstructs the missing stats row / forward
    rows from exact posting-derived deltas. After any unclean shutdown,
    ``audit_bm25_store`` confirms the repaired store's invariants."""
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        build_bm25_store,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not spark.catalog.tableExists(table):
            build_bm25_store(
                batch_df, table, text_col, id_col, num_buckets,
                forward=forward,
            )
            return
        append_bm25_postings(batch_df, table, text_col, id_col)

    return _drain(stream_df, _apply, checkpoint)


def run_to_minhash_store(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    num_buckets: int = 16,
    max_bucket: int = 200,
):
    """Streaming ingest dedup against the PERSISTED MinHash signature
    store — ``run_to_dedup_store``'s near-duplicate sibling and the
    streaming twin of ``dedup_incremental``: each micro-batch admits only
    docs that are NOT LSH-candidates of history or of an admitted
    same-batch doc, then advances the store with the admitted docs'
    signatures. The streaming loop gets near-dup power, not just exact.

    Keeper rule (deterministic, the min-id convention every dedup
    operator here uses): a batch doc is DROPPED iff some candidate pair
    links it to a store doc, or to a batch doc with a SMALLER id. A
    candidate component's minimum id is always admitted; every dropped
    doc is similar to an admitted (or previously stored) doc, so store
    coverage survives dropping. Candidate granularity, not verified
    Jaccard — the store keeps signatures, not text, so exact
    verification would need historical text the ingest path deliberately
    never re-reads (batch jobs run ``jaccard_verify`` downstream where
    text is at hand).

    Exactly-once admitted-doc effects across restarts, same two-sided
    idempotence as the digest sink:

    - admitted rows land under ``out_path/ingest_batch=<id>`` with
      OVERWRITE — a replay recomputes the SAME admit set (an admitted
      doc's own stored signatures are excluded by id inequality, and any
      pair between two admitted docs would have dropped one originally)
      and rewrites the same directory;
    - the signature append is guarded by an id anti-join against the
      live store, so a replay appends nothing.

    Rows write before signatures: a crash between the two replays into
    the same-directory overwrite, never duplicate rows or signatures.
    NULL-text rows are not ingested (the digest-sink precedent).
    Requires globally unique ``id_col`` across batches — the same
    contract the pair outputs of the batch operators assume.
    """
    from albedo_spark.operators.dedup_store import (
        append_signatures,
        build_signature_store,
        dedup_incremental,
    )

    return _run_near_dup_ingest(
        stream_df, table, out_path, checkpoint, text_col, id_col,
        build_empty=lambda empty, t: build_signature_store(
            empty, t, text_col, id_col,
            num_hashes, rows_per_band, shingle_n, num_buckets,
        ),
        pairs_for=lambda batch, t: dedup_incremental(
            batch, t, text_col, id_col,
            num_hashes, rows_per_band, shingle_n, max_bucket,
            exclude_store_ids=batch.select(id_col),
        ),
        append_novel=lambda novel, t: append_signatures(
            novel, t, text_col, id_col, num_hashes, rows_per_band, shingle_n,
        ),
    )


def run_to_simhash_store(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 16,
    num_bands: int = 4,
    max_hamming: int = 3,
    num_buckets: int = 16,
    max_bucket: int = 200,
):
    """Streaming ingest dedup at HAMMING granularity — the SimHash
    sibling of ``run_to_minhash_store``, completing the streaming family
    (exact digests, Jaccard candidates, Hamming distance): each
    micro-batch admits only docs whose fingerprint is farther than
    ``max_hamming`` bits from every stored doc and every admitted
    smaller-id batch doc, then advances the band store with the admitted
    docs' fingerprints. Unlike the MinHash sink this is EXACT per the
    Hamming semantics (pigeonhole full recall at ``max_hamming <=
    num_bands - 1``, in-plan bit_count verification) — EXCEPT under the
    ``max_bucket`` cap: a band bucket whose combined size exceeds the
    cap is skipped (the family-wide quadratic guard), so on skewed
    corpora a near-dup sharing ONLY over-cap bands is admitted; raise
    ``max_bucket`` (or set it huge) when exactness matters more than
    the skew bound. Same keeper rule, replay idempotence, and
    crash-window contract as the MinHash sink — see its docstring."""
    from albedo_spark.operators.dedup_store import (
        append_simhash,
        build_simhash_store,
        simhash_incremental,
    )

    return _run_near_dup_ingest(
        stream_df, table, out_path, checkpoint, text_col, id_col,
        build_empty=lambda empty, t: build_simhash_store(
            empty, t, text_col, id_col, num_bits, num_bands, num_buckets,
        ),
        pairs_for=lambda batch, t: simhash_incremental(
            batch, t, text_col, id_col, num_bits, num_bands,
            max_hamming, max_bucket,
            exclude_store_ids=batch.select(id_col),
        ),
        append_novel=lambda novel, t: append_simhash(
            novel, t, text_col, id_col, num_bits, num_bands,
        ),
    )


def run_to_vector_store(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    threshold: float,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    multi_probe: bool = True,
    num_buckets: int = 16,
):
    """Streaming ingest dedup at EMBEDDING granularity — SemDeDup as a
    sink, completing the streaming store family's fourth rung (exact
    digests, Jaccard candidates, Hamming distance, cosine similarity):
    each micro-batch admits only vectors whose exact cosine is below
    ``threshold`` against every stored vector and every admitted
    smaller-id batch vector among the hyperplane-bucket candidates, then
    advances the ANN store with the admitted vectors. Candidates come
    from the same multi-probe scheme as ``ann_store_knn`` (recall tuned
    by ``num_planes``/``multi_probe``, the LSH S-curve); verification is
    the exact cosine, so within the candidate set the admit rule is
    exact. NULL-vector rows are not ingested (the family's NULL-text
    precedent). Same keeper rule, replay idempotence, and crash-window
    contract as the MinHash sink — see its docstring."""
    from albedo_spark.operators.vector_store import (
        append_vectors,
        build_vector_store,
        vector_incremental,
    )

    return _run_near_dup_ingest(
        stream_df, table, out_path, checkpoint, vec_col, id_col,
        build_empty=lambda empty, t: build_vector_store(
            empty, t, dim, vec_col, id_col, num_planes, seed, num_buckets,
        ),
        pairs_for=lambda batch, t: vector_incremental(
            batch, t, threshold, dim, vec_col, id_col,
            num_planes, seed, multi_probe,
            exclude_store_ids=batch.select(id_col),
        ),
        append_novel=lambda novel, t: append_vectors(
            novel, t, dim, vec_col, id_col, num_planes, seed,
        ),
    )


def _run_near_dup_ingest(
    stream_df: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    text_col: str,
    id_col: str,
    build_empty,
    pairs_for,
    append_novel,
):
    """Shared near-dup ingest core (MinHash and SimHash sinks): admit =
    batch minus docs paired to the store or to a smaller admitted batch
    id; rows overwrite per-batch directories; the store append is
    replay-guarded by an id probe. ``pairs_for`` must pass the batch's
    own ids as ``exclude_store_ids`` so a replay whose prior attempt
    already appended sees the store exactly as the first attempt did
    (byte-identical admit decisions at the bucket-cap margin)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not spark.catalog.tableExists(table):
            build_empty(batch_df.limit(0), table)
        batch = batch_df.where(F.col(text_col).isNotNull())
        pairs = pairs_for(batch, table).select("id_a", "id_b")
        # Pair members are unlabeled (store ids and batch ids mixed, each
        # pair sorted id_a < id_b): re-derive the side per member by a
        # semi/left join against the batch's own ids. Drop a batch member
        # when its counterpart is store-side (no batch match) or a
        # smaller batch id.
        bids = batch.select(F.col(id_col).alias("_id"))
        members = (
            pairs.select(
                F.col("id_a").alias("_id"), F.col("id_b").alias("_other")
            )
            .unionByName(
                pairs.select(
                    F.col("id_b").alias("_id"), F.col("id_a").alias("_other")
                )
            )
            .join(bids, "_id", "left_semi")
        )
        other_is_batch = bids.select(
            F.col("_id").alias("_other"), F.lit(1).alias("_ob")
        )
        dropped = (
            members.join(other_is_batch, "_other", "left")
            .where(F.col("_ob").isNull() | (F.col("_other") < F.col("_id")))
            .select(F.col("_id").alias(id_col))
            .distinct()
        )
        keep = batch.join(dropped, id_col, "left_anti").persist()
        try:
            if keep.isEmpty():
                return
            keep.write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={batch_id}"
            )
            # Replay guard without a history-sized shuffle (the shared
            # vector_store.admit_novel core): with a {table}_bloom
            # sidecar a fresh batch splits map-side and never scans the
            # store; without one, a broadcast-semi probe of the store's
            # id column (streams, never exchanges). Either way the tiny
            # hit list anti-joins back — a plain distinct() over all
            # store ids would hash-aggregate the whole history every
            # batch.
            from albedo_spark.operators.vector_store import (
                admit_novel,
                mirror_bloom,
            )

            novel_for_store = admit_novel(
                keep, table, id_col=id_col
            ).localCheckpoint(eager=False)
            mirror_bloom(novel_for_store, table, id_col=id_col)
            append_novel(novel_for_store, table)
        finally:
            keep.unpersist()

    return _drain(stream_df, _apply, checkpoint)


def run_to_pq_store(
    stream_df: DataFrame,
    table: str,
    checkpoint: str,
    kc: int = 8,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
    rounds: int = 2,
    stride: int = 29,
    num_buckets: int = 8,
    codebooks: list | str | None = None,
):
    """Streaming maintenance of the persisted PQ vector store — the
    compressed-index sink twin of ``vector_store.build_pq_store`` /
    ``append_pq_vectors`` (one shared admit/append core): each
    micro-batch's vectors are encoded against the FROZEN
    ``{table}_cents`` coarse model and their m-int code rows appended.
    The first non-empty batch BOOTSTRAPS the store (trains the integer
    coarse quantizer — and, with ``codebooks="train"``, the residual
    codebooks — on itself and freezes both as the ``_cents``/``_cb``
    companions) — after that the model never drifts, so codes written
    in different batches stay mutually comparable under ADC, which is
    the whole point of a persisted index. Appends always encode with
    the store's own persisted codebooks (``vector_store._load_codebooks``
    — ADVICE r11 #4), so the ``codebooks`` argument only shapes the
    bootstrap.

    Replay idempotence: ``append_pq_vectors``'s replay guard (broadcast
    id probe + anti-join) admits nothing a crashed prior attempt already
    wrote, so foreachBatch's at-least-once delivery converges to
    exactly-once store contents (the ``run_to_dedup_store``
    discipline)."""
    from albedo_spark.operators.vector_store import (
        append_pq_vectors,
        build_pq_store,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.where(F.col("embedding").isNotNull())
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        if not spark.catalog.tableExists(table):
            build_pq_store(
                batch, table, kc=kc, m=m, subdim=subdim, scale=scale,
                rounds=rounds, stride=stride, num_buckets=num_buckets,
                codebooks=codebooks,
            )
            return
        # bucket layout comes from the table's catalog entry, not the
        # sink's num_buckets (which only shapes the bootstrap build)
        append_pq_vectors(
            batch, table, m=m, subdim=subdim, scale=scale,
            replay_guard=True,
        )

    return _drain(stream_df, _apply, checkpoint)


def run_to_cms_store(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    weight_col: str | None = None,
):
    """Streaming maintenance of a count-min frequency sketch
    (operators/sketches.py) — the store family at SKETCH granularity:
    the running answer to "how hot is each key so far" in constant
    space, over an unbounded stream.

    A sketch is addition, and addition is NOT replay-idempotent — a
    re-delivered batch merged into a live sketch double-counts. So the
    store is per-batch GENERATIONS instead of a mutable total: each
    micro-batch's own sketch lands under ``out_path/sketch_batch=<id>``
    with OVERWRITE (a replayed batch rewrites the identical cells — the
    ``run_to_dedup_store`` idempotence discipline), and the LIVE sketch
    is the elementwise sum over generations (``read_cms_store``), exact
    by CMS mergeability. Compaction = rewriting the summed sketch as one
    generation — the ``merge_bloom_generations`` posture.

    Per batch the work is one constant-size aggregate (depth × width
    cells); the read side sums |generations| × depth × width rows —
    compact when generations pile up.
    """
    from albedo_spark.operators.sketches import build_cms

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sk = build_cms(batch_df, key_col, depth, width, weight_col)
        sk.write.mode("overwrite").parquet(
            f"{out_path}/sketch_batch={batch_id}"
        )

    return _drain(stream_df, _apply, checkpoint)


def read_cms_store(spark, out_path: str) -> DataFrame:
    """The live sketch: elementwise sum across batch generations —
    exactly ``build_cms`` over everything ingested (CMS mergeability,
    pinned in tests/test_streaming.py)."""
    return (
        spark.read.parquet(out_path)
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )


def run_to_hll_store(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    key_col: str,
    m: int = 64,
):
    """Streaming maintenance of HyperLogLog registers — the cardinality
    twin of ``run_to_cms_store`` ("how many DISTINCT keys so far", in
    constant space, over an unbounded stream). Same replay-safe
    generation layout: each micro-batch's own register frame lands under
    ``out_path/sketch_batch=<id>`` with OVERWRITE, and the live sketch
    is the elementwise MAX over generations (``read_hll_store``) — max
    is idempotent AND replay-proof, but the generation layout keeps the
    two sketch stores operationally identical (one compaction story,
    one reader shape)."""
    from albedo_spark.operators.sketches import build_hll

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_hll(batch_df, key_col, m).write.mode("overwrite").parquet(
            f"{out_path}/sketch_batch={batch_id}"
        )

    return _drain(stream_df, _apply, checkpoint)


def read_hll_store(spark, out_path: str) -> DataFrame:
    """The live register frame: elementwise max across generations —
    exactly ``build_hll`` over everything ingested (HLL mergeability;
    feed to ``sketches.hll_estimate`` for the running distinct count)."""
    return (
        spark.read.parquet(out_path)
        .groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
    )


def run_to_histogram_store(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    value_col: str,
    boundaries: list[int],
    group_col: str | None = None,
):
    """Streaming maintenance of a fixed-edge counting histogram
    (operators/sketches.py build_histogram) — the QUANTILE member of
    the streaming sketch-store family next to ``run_to_cms_store``
    (frequency) and ``run_to_hll_store`` (cardinality): the running
    answer to "what does the value distribution look like so far" in
    |edges|+1 cells per group, over an unbounded stream.

    Histogram cells merge by SUM, which like CMS is not
    replay-idempotent — so the identical generation discipline: each
    micro-batch's own histogram lands under
    ``out_path/sketch_batch=<id>`` with OVERWRITE (a replayed batch
    rewrites the same cells), and the live histogram is the elementwise
    sum over generations (``read_histogram_store``), exact by
    mergeability. Feed the read frame to
    ``sketches.histogram_quantiles`` for running p50/p90/p99 — the
    streaming-percentile answer that needs no per-trigger re-sort of
    history."""
    from albedo_spark.operators.sketches import build_histogram

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_histogram(
            batch_df, value_col, boundaries, group_col=group_col
        ).write.mode("overwrite").parquet(f"{out_path}/sketch_batch={batch_id}")

    return _drain(stream_df, _apply, checkpoint)


def read_histogram_store(
    spark, out_path: str, group_col: str | None = None
) -> DataFrame:
    """The live histogram: elementwise sum across batch generations —
    exactly ``build_histogram`` over everything ingested (pinned in
    tests/test_streaming.py, including replay idempotence)."""
    keys = ([group_col] if group_col else []) + ["bucket"]
    return (
        spark.read.parquet(out_path)
        .groupBy(*keys)
        .agg(F.sum("cnt").alias("cnt"))
    )
