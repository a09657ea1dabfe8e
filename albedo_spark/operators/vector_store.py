"""Persisted ANN vector store — incremental similarity search.

The batch ANN operators in ``similarity.py`` hash the corpus per query
job. A retrieval/near-dup pipeline instead keeps the corpus embeddings
in a PERSISTED index and probes it with each new batch — the vector-DB
pattern, re-expressed as a bucketed Spark table (the ``dedup_store``
design applied to the embedding family; §7.5 extension surface, no
reference twin):

- ``build_vector_store``: hash every corpus vector once with the seeded
  hyperplane signature (``similarity.hyperplane_signature`` — a pure
  function of (vector, seed), so any session reproduces the exact
  buckets) and persist ``(id, embedding, norm, bucket)`` bucketed on the
  signature via ``io.write_bucketed``.
- ``ann_store_knn``: top-k cosine neighbors of a query batch among the
  STORED vectors — queries explode to 1+num_planes multi-probe buckets
  and equi-join the store on its bucket column: the store is scanned
  bucket-aware with ZERO Exchange (only the query batch shuffles, into
  the store's layout), and norms are read back, never recomputed.
- ``append_vectors``: new vectors join the index for the next batch.

Store growth is O(corpus) rows (one row per vector, unlike the banded
MinHash store's rows-per-band) because the signature is a single
``num_planes``-bit key; recall is tuned by ``num_planes``/multi-probe
exactly as in ``random_hyperplane_lsh_knn`` — same S-curve, same seed
discipline, same oracle replayability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from albedo_spark.functions.vectors import dot
from albedo_spark.operators.similarity import _with_norm, hyperplane_signature
from albedo_spark.operators.topk import top_k_per_group


def _hashed(
    df: DataFrame,
    dim: int,
    vec_col: str,
    id_col: str,
    num_planes: int,
    seed: int,
    quantize: bool = False,
) -> DataFrame:
    """Index row for the store. ``quantize`` stores int8 codes + the
    BIGINT squared norm instead of the float vector (~4× smaller at
    rest, see tools/scale_quantize.py); the LSH signature is computed
    from the FLOAT vector either way, so a quantized store and a float
    store over the same corpus have IDENTICAL buckets — quantization
    changes the scoring representation, never the candidate set."""
    sig = hyperplane_signature(F.col(vec_col), dim, num_planes, seed)
    if quantize:
        from albedo_spark.operators.similarity import quantize_int8

        return quantize_int8(
            df.withColumn("bucket", sig),
            vec_col=vec_col,
            id_col=id_col,
            keep_cols=("bucket",),
        ).select(id_col, "qvec", "qnorm2", "bucket")
    return _with_norm(df, vec_col, "_n").select(
        F.col(id_col),
        F.col(vec_col),
        "_n",
        sig.alias("bucket"),
    )


def build_vector_store(
    corpus: DataFrame,
    table: str,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    num_buckets: int = 16,
    quantize: bool = False,
) -> None:
    """Hash + persist the corpus as the bucketed ANN index (one-time cost;
    size ``num_buckets`` for the cluster — hundreds at 100 TB).
    ``quantize=True`` persists int8 codes + integer norms instead of
    float vectors — the production storage shape for large corpora; the
    probe side then scores by quantized cosine (recall vs the float
    store pinned in tests)."""
    from albedo_spark.io import write_bucketed

    write_bucketed(
        _hashed(corpus, dim, vec_col, id_col, num_planes, seed, quantize),
        table,
        "bucket",
        num_buckets=num_buckets,
    )


def append_vectors(
    batch: DataFrame,
    table: str,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    quantize: bool = False,
) -> None:
    """Add a new batch's vectors to the index in the layout the store
    was built with (``io.append_rows``). ``quantize`` must match the
    store's build-time representation (mixed schemas fail loudly on
    write)."""
    from albedo_spark.io import append_rows

    append_rows(
        _hashed(batch, dim, vec_col, id_col, num_planes, seed, quantize),
        table,
    )


def ann_store_knn(
    queries: DataFrame,
    table: str,
    k: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    num_planes: int = 8,
    seed: int = 42,
    multi_probe: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors of each query among the STORED vectors:
    (query_id, neighbor_id, cosine, rank). Same probe scheme and
    tie-breaks as ``random_hyperplane_lsh_knn`` (rank by cosine desc,
    neighbor_id asc), so oracles replay it with the identical plane
    literals.

    The store's representation is self-describing: a ``qvec`` column
    means it was built with ``quantize=True``, and the probe side then
    quantizes the QUERIES the same way and scores by quantized cosine
    (BIGINT dot / √(BIGINT norms) — same buckets as a float store by
    the signature-before-quantization contract, near-identical ranking:
    recall floor pinned in tests)."""
    spark = queries.sparkSession
    store_raw = spark.table(table)
    quantized = "qvec" in store_raw.columns
    sig = hyperplane_signature(F.col(vec_col), dim, num_planes, seed)

    def _probes(col):
        if multi_probe:
            return F.array(
                col, *[col.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
            )
        return F.array(col)

    if quantized:
        from albedo_spark.operators.similarity import quantize_int8

        store = store_raw.select(
            F.col("bucket"),
            F.col(id_col).alias("neighbor_id"),
            F.col("qvec").alias("_cq"),
            F.col("qnorm2").alias("_cn2"),
        )
        q = quantize_int8(
            queries.withColumn("_sig", sig),
            vec_col=vec_col,
            id_col=query_id_col,
            keep_cols=("_sig",),
        ).select(
            F.col(query_id_col),
            F.col("qvec").alias("_qq"),
            F.col("qnorm2").alias("_qn2"),
            F.explode(_probes(F.col("_sig"))).alias("bucket"),
        )
        scored = (
            q.join(store, "bucket")
            .withColumn(
                "_qdot",
                F.aggregate(
                    F.zip_with(F.col("_cq"), F.col("_qq"), lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
            )
            .withColumn(
                "cosine",
                F.when(
                    (F.col("_cn2") > 0) & (F.col("_qn2") > 0),
                    F.col("_qdot").cast("double")
                    / F.sqrt((F.col("_cn2") * F.col("_qn2")).cast("double")),
                ).otherwise(F.lit(0.0)),
            )
            .select(query_id_col, "neighbor_id", "cosine")
            .distinct()
        )
    else:
        store = store_raw.select(
            F.col("bucket"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            F.col("_n").alias("_cn"),
        )
        q = _with_norm(queries, vec_col, "_qn").withColumn("_sig", sig)
        q = q.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qv"),
            "_qn",
            F.explode(_probes(F.col("_sig"))).alias("bucket"),
        )
        scored = (
            q.join(store, "bucket")
            .withColumn(
                "cosine",
                F.when(
                    (F.col("_cn") > 0) & (F.col("_qn") > 0),
                    dot(F.col("_cv"), F.col("_qv"))
                    / (F.col("_cn") * F.col("_qn")),
                ).otherwise(F.lit(0.0)),
            )
            .select(query_id_col, "neighbor_id", "cosine")
            .distinct()
        )
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def admit_novel(
    frame: DataFrame, table: str, id_col: str = "vec_id"
) -> DataFrame:
    """Replay-guard admit core shared by the vector/PQ store appenders
    and their streaming twins: rows of ``frame`` whose ``id_col`` is NOT
    already in ``table``. Without a sidecar this is the classic probe —
    broadcast-semi the store's id column against the batch ids (the
    store streams, never exchanges) and anti-join the hit list back —
    whose cost grows linearly with the store (VERDICT r11 #2). When the
    ``{table}_bloom`` sidecar exists (q110's machinery via
    ``dedup_store.build_bloom_sidecar(key_col=id_col)``), the batch is
    split MAP-SIDE first: definite-novel ids skip the store entirely,
    and the store probe runs ONLY when some id is maybe-seen — on a
    fresh batch (the common case) the store is never scanned, so
    per-batch cost is O(batch) regardless of store size; on a replay
    every id is maybe-seen and the exact probe resolves it correctly.
    False positives only route a few rows through the exact probe, so
    the admitted set is byte-identical with or without the sidecar
    (pinned in tests). Lockstep contract: every append mirrored through
    ``mirror_bloom`` BEFORE the row write — a store id absent from every
    generation would be a false negative, the one error class that
    re-admits (duplicates) on replay."""
    from albedo_spark.operators.dedup_store import bloom_maybe

    spark = frame.sparkSession
    bloom_table = table + "_bloom"
    if spark.catalog.tableExists(bloom_table):
        flagged = bloom_maybe(frame, bloom_table, id_col).localCheckpoint(
            eager=False  # consumers: isEmpty + splits
        )
        maybe = flagged.where(F.col("_maybe")).drop("_maybe")
        novel = flagged.where(~F.col("_maybe")).drop("_maybe")
        if maybe.isEmpty():
            return novel
        present = (
            spark.table(table)
            .select(id_col)
            .join(F.broadcast(maybe.select(id_col)), id_col, "left_semi")
            .distinct()
        )
        return novel.unionByName(
            maybe.join(F.broadcast(present), id_col, "left_anti")
        )
    present = (
        spark.table(table)
        .select(id_col)
        .join(F.broadcast(frame.select(id_col)), id_col, "left_semi")
        .distinct()
    )
    return frame.join(F.broadcast(present), id_col, "left_anti")


def mirror_bloom(
    admitted: DataFrame, table: str, id_col: str = "vec_id"
) -> None:
    """Keep the ``{table}_bloom`` sidecar in lockstep with an append:
    one generation, in the sidecar's own form (``dedup_store.
    append_bloom``), covering the batch's ADMITTED ids; no-op when no
    sidecar exists. Call BEFORE writing the rows — bloom-first ordering
    keeps the sidecar a SUPERSET of the store across crash windows
    (bloom-without-rows is a harmless false-positive trickle;
    rows-without-bloom would be a re-admitting false negative)."""
    from albedo_spark.operators.dedup_store import append_bloom

    spark = admitted.sparkSession
    if spark.catalog.tableExists(table + "_bloom"):
        append_bloom(admitted.select(id_col), table + "_bloom", key_col=id_col)


def _load_codebooks(
    spark, table: str, m: int, subdim: int, codebooks: list | None
) -> DataFrame:
    """Resolve the codebook frame a PQ-store call must encode/score
    with (ADVICE r11 #4 — the silent-wrong-ADC hazard): the store's own
    persisted ``{table}_cb`` companion is the source of truth, so
    probing/appending with ``codebooks=None`` picks up EXACTLY the
    codebooks the store was built with (trained or formula — the caller
    no longer has to re-pass trained ones). An explicitly passed list is
    VERIFIED against the companion when one exists — a mismatch raises
    instead of returning plausible but wrong ADC distances. Only a store
    with no companion at all (pre-persistence builds) falls back to
    ``formula_codebooks``, the old behavior those stores were built
    under."""
    from albedo_spark.operators.pq import formula_codebooks

    cb_table = table + "_cb"
    persisted = spark.catalog.tableExists(cb_table)
    if codebooks is None:
        if persisted:
            return spark.table(cb_table)
        return spark.createDataFrame(
            formula_codebooks(m=m, subdim=subdim),
            "s int, code int, c array<long>",
        )
    if persisted:
        stored = sorted(
            (r.s, r.code, tuple(r.c)) for r in spark.table(cb_table).collect()
        )
        given = sorted((s, c, tuple(v)) for s, c, v in codebooks)
        if stored != given:
            raise ValueError(
                f"codebooks passed to a PQ-store call differ from the "
                f"persisted {cb_table} companion the store was encoded "
                "with — ADC distances would be plausible but wrong; pass "
                "codebooks=None to use the store's own"
            )
    return spark.createDataFrame(codebooks, "s int, code int, c array<long>")


def build_pq_store(
    corpus: DataFrame,
    table: str,
    kc: int = 8,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
    rounds: int = 2,
    stride: int = 29,
    codebooks: list | str | None = None,
    num_buckets: int = 8,
    ncodes: int = 8,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """The PQ rung of the persisted vector store (the at-rest ladder:
    float32 → int8 (~3.3× measured) → PQ codes, m small ints + a cell id
    per vector — ~100× vs float32 before parquet encoding; see
    tools/scale_pq.py for the compression/recall curve). Trains the
    integer coarse quantizer on the corpus, persists it as
    ``{table}_cents`` (the FROZEN model appended batches must encode
    against — the store's cells may not drift as the corpus grows), and
    persists the IVF-PQ code rows ``(vec_id, cluster_id, s, code)``
    bucketed on ``cluster_id`` — the probe join's key, so the store side
    keeps the family's never-shuffle contract.

    ``codebooks``: ``"train"`` trains residual codebooks on the corpus
    (``pq.train_residual_codebooks`` — the production default the
    repo's own probe measures at ~2× the formula recall at the same bit
    budget); ``None`` keeps the parameter-derived ``formula_codebooks``
    (the auditable/oracle-replayable default); or pass a list. WHICHEVER
    is used is persisted as the ``{table}_cb`` companion under the same
    frozen-model contract as ``_cents`` — appends and probes load it
    back, so a trained store can never be silently probed with the
    wrong codebooks (ADVICE r11 #4).

    ``partition_cols``: metadata columns of ``corpus`` (e.g. lang,
    license) baked into the store as DIRECTORY partitions under the
    cluster_id bucketing — the q164 contract's scale path: an
    allow-list too big to broadcast belongs as a partition column at
    build time, so ``pq_store_topk(where=...)`` prunes the slice at
    plan time (PartitionFilters) instead of semi-joining an id set.
    Coarse cells and codebooks stay CORPUS-level (the whole-index
    frozen model — the slice narrows candidates, never the model),
    which is exactly what keeps the partition path result-identical to
    the broadcast allow path (pinned in tests)."""
    from albedo_spark.io import write_bucketed
    from albedo_spark.operators.clustering import (
        integerize_embeddings,
        kmeans_fit,
    )
    from albedo_spark.operators.pq import (
        encode_residual_codes,
        formula_codebooks,
        train_residual_codebooks,
    )

    spark = corpus.sparkSession
    if codebooks == "train":
        codebooks = train_residual_codebooks(
            corpus, kc=kc, m=m, ncodes=ncodes, subdim=subdim, scale=scale,
            coarse_rounds=rounds, rounds=rounds, stride=stride,
        )
    elif codebooks is None:
        codebooks = formula_codebooks(m=m, ncodes=ncodes, subdim=subdim)
    cb = spark.createDataFrame(codebooks, "s int, code int, c array<long>")
    vectors = integerize_embeddings(corpus, scale=scale).localCheckpoint(
        eager=False
    )
    from albedo_spark.io import drop_orphan_table_location

    cents = kmeans_fit(vectors, kc, rounds, stride=stride)
    for suffix, frame in (("_cents", cents), ("_cb", cb)):
        spark.sql(f"DROP TABLE IF EXISTS `{table}{suffix}`")
        drop_orphan_table_location(spark, table + suffix)
        frame.write.mode("overwrite").format("parquet").saveAsTable(
            table + suffix
        )
    frozen = spark.table(table + "_cents")
    rows = encode_residual_codes(
        vectors, frozen, spark.table(table + "_cb"), m, subdim
    )
    if partition_cols:
        rows = rows.join(corpus.select("vec_id", *partition_cols), "vec_id")
    write_bucketed(
        rows, table, "cluster_id",
        num_buckets=num_buckets, partition_cols=partition_cols,
    )


def append_pq_vectors(
    batch: DataFrame,
    table: str,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
    codebooks: list | None = None,
    replay_guard: bool = True,
) -> None:
    """Admit/append core of the PQ store (shared with the streaming sink
    twin ``streaming.events.run_to_pq_store``): encode the batch against
    the FROZEN ``{table}_cents`` model (never retrain — cells must match
    the store) and append its code rows. Codebooks load from the
    ``{table}_cb`` companion by default — the batch is encoded with
    EXACTLY the codebooks the store was built with, trained or formula
    (ADVICE r11 #4). ``replay_guard`` makes the append idempotent the
    way ``run_to_dedup_store`` is, via the shared ``admit_novel`` core:
    with a ``{table}_bloom`` sidecar the batch splits map-side and a
    fresh batch never scans the store (O(batch) per append — VERDICT
    r11 #2); without one it falls back to the broadcast-semi store
    probe. The sidecar is kept in lockstep automatically
    (``mirror_bloom`` before the row write). The code rows land in the
    store's own bucket and partition layout (``io.append_rows``)."""
    from albedo_spark.io import append_rows, table_partition_cols
    from albedo_spark.operators.clustering import integerize_embeddings
    from albedo_spark.operators.pq import encode_residual_codes

    spark = batch.sparkSession
    cb = _load_codebooks(spark, table, m, subdim, codebooks)
    cents = spark.table(table + "_cents")
    vectors = integerize_embeddings(batch, scale=scale)
    if replay_guard:
        vectors = admit_novel(vectors, table).localCheckpoint(eager=False)
    # lockstep even on unguarded appends: extra ids in the bloom are a
    # harmless false-positive trickle; store rows MISSING from it would
    # re-admit on replay
    mirror_bloom(vectors, table)
    rows = encode_residual_codes(vectors, cents, cb, m, subdim)
    # A store built with partition_cols carries metadata directories;
    # the batch must supply the same columns (failing loudly here beats
    # a mis-partitioned append the pruned probe would silently miss).
    pcols = table_partition_cols(spark, table)
    if pcols:
        missing = [c for c in pcols if c not in batch.columns]
        if missing:
            raise ValueError(
                f"store `{table}` is partitioned on {pcols}; batch is "
                f"missing column(s) {missing}"
            )
        rows = rows.join(batch.select("vec_id", *pcols), "vec_id")
    append_rows(rows, table)


def pq_store_topk(
    queries: DataFrame,
    table: str,
    k: int = 5,
    nprobe: int = 2,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
    codebooks: list | None = None,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    allow: DataFrame | None = None,
    where: str | Column | None = None,
) -> DataFrame:
    """Probe the persisted PQ store: queries pick their nprobe nearest
    FROZEN cells by exact centroid distance, build the residual ADC
    table (broadcast), and score ONLY the stored code rows of probed
    cells via the (cell, s, code) equi-join — the store never shuffles
    and the scan reads m ints per candidate, never vectors. Codebooks
    load from the ``{table}_cb`` companion by default, so a store built
    with trained codebooks is probed with those same codebooks — no
    silent formula fallback (ADVICE r11 #4). Returns ``(query_id,
    neighbor_id, cell_id, adist, rank)`` — identical semantics (and
    oracle) to ``ivf_pq_topk`` restricted to the stored corpus.

    ``allow``: optional one-column ``(vec_id)`` frame restricting the
    search to a metadata slice — PRE-filter semantics (every returned
    neighbor satisfies the predicate and each query still gets up to k
    results — NOT post-filtering an unfiltered top-k, which starves
    queries whose true neighbors fail the predicate). Applied as a
    broadcast semi-join on the code scan, so the store side STILL has
    zero Exchange. Sized for selective slices (an id set that fits a
    broadcast).

    ``where``: the PARTITION-COLUMN form of the same pre-filter
    contract — a predicate over columns the store was built with via
    ``build_pq_store(partition_cols=...)``. The filter lands in the
    scan's PartitionFilters (whole directories pruned at plan time,
    pinned in tests), so it is the right form when the slice is defined
    by metadata rather than an id set, and the only form when the
    equivalent allow-list would not fit a broadcast. Same semantics as
    ``allow`` by construction (cells/codebooks stay corpus-level);
    result-identical on the same slice. The two compose (AND)."""
    from albedo_spark.operators.clustering import integerize_embeddings
    from albedo_spark.operators.pq import adc_score_codes, probe_query_table

    spark = queries.sparkSession
    cb = _load_codebooks(spark, table, m, subdim, codebooks)
    cents = spark.table(table + "_cents")
    qv = integerize_embeddings(
        queries, scale=scale, id_col=query_id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    qtable = probe_query_table(qv, cents, cb, m, subdim, nprobe)
    codes = spark.table(table)
    if where is not None:
        codes = codes.where(where)
    if allow is not None:
        codes = codes.join(
            F.broadcast(allow.selectExpr(f"{allow.columns[0]} AS vec_id")),
            "vec_id",
            "semi",
        )
    return adc_score_codes(codes, qtable, k)


def near_dup_vs_store(
    queries: DataFrame,
    table: str,
    threshold: float,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    num_planes: int = 8,
    seed: int = 42,
    multi_probe: bool = True,
) -> DataFrame:
    """SemDeDup-style incremental embedding near-dup: every (query,
    stored) pair with cosine >= ``threshold`` — the embedding-granularity
    member of the incremental-store family (exact digests q92, MinHash
    q90, and this). Identical probe mechanics to ``ann_store_knn`` minus
    the top-k: candidate pairs are bounded by bucket collisions, so the
    output is threshold-gated, never all-pairs."""
    spark = queries.sparkSession
    store = spark.table(table).select(
        F.col("bucket"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_n").alias("_cn"),
    )
    q = _with_norm(queries, vec_col, "_qn").withColumn(
        "_sig", hyperplane_signature(F.col(vec_col), dim, num_planes, seed)
    )
    probes = (
        F.array(
            F.col("_sig"),
            *[F.col("_sig").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
        )
        if multi_probe
        else F.array(F.col("_sig"))
    )
    q = q.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        "_qn",
        F.explode(probes).alias("bucket"),
    )
    return (
        q.join(store, "bucket")
        .withColumn(
            "cosine",
            F.when(
                (F.col("_cn") > 0) & (F.col("_qn") > 0),
                dot(F.col("_cv"), F.col("_qv")) / (F.col("_cn") * F.col("_qn")),
            ).otherwise(F.lit(0.0)),
        )
        .where(F.col("cosine") >= threshold)
        .select(query_id_col, "neighbor_id", "cosine")
        .distinct()
    )


def vector_incremental(
    batch: DataFrame,
    table: str,
    threshold: float,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    multi_probe: bool = True,
    exclude_store_ids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-granularity incremental near-dup pairs ``(id_a < id_b,
    cosine)`` touching the new batch: batch-vs-store PLUS batch-internal
    — the embedding member of the ``dedup_incremental`` /
    ``simhash_incremental`` family (``near_dup_vs_store`` is the
    batch-vs-store half only; an ingest loop also needs the pairs WITHIN
    the arriving batch to pick a keeper per duplicate cluster).

    Candidate rule mirrors the probe scheme everywhere else in this
    module: (a, b) is a candidate when a's probe set (own signature +
    ``num_planes`` single-bit flips under ``multi_probe``) contains b's
    base signature, in EITHER direction — the union of both directions
    sorted into ``id_a < id_b`` makes the relation symmetric, exactly
    the pair semantics the banded stores emit. Verification is the exact
    cosine on the candidate pairs, so like q102 the output is
    threshold-gated and bounded by bucket collisions, never all-pairs.

    ``exclude_store_ids`` (small one-column id frame, broadcast
    anti-join) is the replay guard the streaming sink needs: passing the
    batch's own ids hides signatures a crashed prior attempt already
    appended, so a replay sees the store exactly as the first attempt
    did and the admit set is byte-identical. The store side still never
    shuffles — probes explode on the (small) batch side and equi-join
    the store's bucket layout.
    """
    spark = batch.sparkSession
    store = spark.table(table).select(
        F.col("bucket"),
        F.col(id_col).alias("_sid"),
        F.col(vec_col).alias("_cv"),
        F.col("_n").alias("_cn"),
    )
    if exclude_store_ids is not None:
        xid = exclude_store_ids.select(
            F.col(exclude_store_ids.columns[0]).alias("_xid")
        )
        store = store.join(
            F.broadcast(xid), F.col("_sid") == F.col("_xid"), "left_anti"
        ).drop("_xid")

    hashed = _hashed(batch, dim, vec_col, id_col, num_planes, seed)
    probes = (
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(num_planes)
            ],
        )
        if multi_probe
        else F.array(F.col("bucket"))
    )
    probed = hashed.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_qv"),
        F.col("_n").alias("_qn"),
        F.explode(probes).alias("bucket"),
    )

    def _verified(pairs: DataFrame) -> DataFrame:
        return (
            pairs.withColumn(
                "cosine",
                F.when(
                    (F.col("_cn") > 0) & (F.col("_qn") > 0),
                    dot(F.col("_cv"), F.col("_qv"))
                    / (F.col("_cn") * F.col("_qn")),
                ).otherwise(F.lit(0.0)),
            )
            .where(F.col("cosine") >= threshold)
            .select(
                F.least("_bid", "_sid").alias("id_a"),
                F.greatest("_bid", "_sid").alias("id_b"),
                "cosine",
            )
        )

    cross = _verified(probed.join(store, "bucket"))
    base = hashed.select(
        "bucket",
        F.col(id_col).alias("_sid"),
        F.col(vec_col).alias("_cv"),
        F.col("_n").alias("_cn"),
    )
    internal = _verified(
        probed.join(base, "bucket").where(F.col("_bid") != F.col("_sid"))
    )
    return cross.unionByName(internal).distinct()


def audit_pq_store(spark, table: str) -> dict:
    """Integrity audit of a persisted IVF-PQ store — the fsck of the
    dense index, for operators running the build/append lifecycle:
    every invariant a probe trusts, recomputed from the store itself.

    Checks (counters; ``ok`` iff all zero):
    - ``orphan_cells``: code rows referencing a cluster_id absent from
      the FROZEN ``{table}_cents`` model (an append that retrained or a
      corrupted companion — either silently mis-prunes probes);
    - ``bad_arity``: vectors whose row count differs from the
      codebook's subspace count m (a vector must carry exactly one
      code per subspace or ADC sums are short);
    - ``unknown_codes``: (s, code) pairs absent from the ``{table}_cb``
      companion — a probe's ADC lookup would silently drop them;
    - ``bloom_false_negatives``: store ids the ``{table}_bloom``
      sidecar calls definitely-novel (when present) — the ONE sidecar
      error class that re-admits on replay; checked over the FULL id
      set (sample upstream at 100 TB).

    Cost: bucketed-scan aggregates over the code table plus one
    broadcast probe of the (tiny) model companions."""
    from albedo_spark.operators.dedup_store import bloom_maybe

    codes = spark.table(table)
    cents = spark.table(table + "_cents")
    cb = spark.table(table + "_cb")
    m = cb.select("s").distinct().count()

    orphan_cells = codes.join(
        F.broadcast(cents.select("cluster_id")), "cluster_id", "left_anti"
    ).count()
    bad_arity = (
        codes.groupBy("vec_id")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") != m)
        .count()
    )
    unknown_codes = codes.join(
        F.broadcast(cb.select("s", "code").distinct()),
        ["s", "code"],
        "left_anti",
    ).count()

    bloom_false_negatives = 0
    bloom_table = table + "_bloom"
    if spark.catalog.tableExists(bloom_table):
        ids = codes.select("vec_id").distinct()
        flagged = bloom_maybe(ids, bloom_table, "vec_id")
        bloom_false_negatives = flagged.where(~F.col("_maybe")).count()

    out = {
        "orphan_cells": orphan_cells,
        "bad_arity": bad_arity,
        "unknown_codes": unknown_codes,
        "bloom_false_negatives": bloom_false_negatives,
        "m": m,
        "n_vectors": codes.select("vec_id").distinct().count(),
    }
    out["ok"] = not (
        orphan_cells or bad_arity or unknown_codes or bloom_false_negatives
    )
    return out
