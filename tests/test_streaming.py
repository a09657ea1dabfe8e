"""Streaming = batch parity: the windowed stream agg over the events table
must reproduce the batch tumbling_agg exactly (kappa-pattern contract)."""

import shutil

import pytest
from pyspark.sql import functions as F

from albedo_spark.io import load_table
from albedo_spark.operators.sessions import tumbling_agg
from albedo_spark.streaming import (
    read_event_stream,
    session_window_agg,
    windowed_event_counts,
)
from albedo_spark.streaming.events import run_to_memory

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    # materialize a micro-batch-able copy (ns timestamps normalized)
    path = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(path, ignore_errors=True)
    load_table(spark, SF_DIR, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_windowed_counts_match_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=2)
    agg = windowed_event_counts(stream, window_duration="1 hour")
    run_to_memory(agg, "win_counts", mode="complete")
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.avg_value)
        for r in spark.table("win_counts").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.avg_value)
        for r in tumbling_agg(load_table(spark, SF_DIR, "events")).collect()
    }
    assert streamed == batch


def test_session_window_stream(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    sess = session_window_agg(stream, gap="30 minutes")
    run_to_memory(sess, "sess_win", mode="complete")
    out = spark.table("sess_win")
    assert out.count() > 0
    assert out.where(F.col("session_end") < F.col("session_start")).count() == 0


def test_user_ewma_stateful_single_batch(spark, event_dir):
    # one big micro-batch -> fold order is exactly (ts, event_id): the
    # streaming EWMA must equal a pandas groupby fold over the same data
    from albedo_spark.streaming import user_ewma_stream

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1000)
    run_to_memory(user_ewma_stream(stream, alpha=0.3), "ewma_1b", mode="update")
    got = {
        r.user_id: (r.n_events, round(r.ewma, 9))
        for r in spark.table("ewma_1b").collect()
    }

    pdf = load_table(spark, SF_DIR, "events").toPandas()
    pdf = pdf.sort_values(["ts", "event_id"])
    import pandas as pd

    expected = {}
    for uid, g in pdf.groupby("user_id"):
        ewma = None
        for v in g["value"]:
            if v is not None and not pd.isna(v):
                ewma = float(v) if ewma is None else 0.3 * float(v) + 0.7 * ewma
        expected[int(uid)] = (len(g), round(ewma, 9))
    assert got == expected


def test_user_ewma_state_survives_micro_batches(spark, event_dir):
    # 4 files / 1 per trigger -> 4 micro-batches; per-user counts must
    # accumulate across batches (update mode: keep the LAST row per user)
    from albedo_spark.streaming import user_ewma_stream

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    run_to_memory(user_ewma_stream(stream), "ewma_mb", mode="update")
    out = spark.table("ewma_mb").toPandas()
    final = out.groupby("user_id")["n_events"].max()
    batch_counts = (
        load_table(spark, SF_DIR, "events").groupBy("user_id").count().collect()
    )
    for r in batch_counts:
        assert final[r["user_id"]] == r["count"]


def test_interval_join_matches_across_micro_batches(spark, tmp_path):
    """A click written in file A must join an error written in file B when
    the files replay as SEPARATE micro-batches — the pair can only come
    out of the stream-stream join's state store. Also checks the window
    bounds: a click 601s before the error is excluded, one at exactly
    -600s included."""
    import datetime as dt

    from albedo_spark.streaming.events import (
        error_click_interval_join,
        run_to_memory,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    d = str(tmp_path / "ev")
    # file 1: the clicks; file 2: the errors — forced separate micro-batches
    spark.createDataFrame(
        [
            (1, base - dt.timedelta(seconds=600), 7, "click"),  # boundary: in
            (2, base - dt.timedelta(seconds=601), 7, "click"),  # out
            (3, base - dt.timedelta(seconds=10), 8, "click"),   # other user
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [(100, base, 7, "error")], schema
    ).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    joined = error_click_interval_join(stream, 600, watermark="240 hours")
    run_to_memory(joined, "ivjoin_test", mode="append")
    got = {(r.error_id, r.click_id) for r in spark.table("ivjoin_test").collect()}
    assert got == {(100, 1)}


@pytest.fixture(scope="module")
def ranged_event_dir(spark, tmp_path_factory):
    """Stage copy with files RANGE-partitioned on ts (file k's events all
    precede file k+1's). In-order arrival means the watermark can never
    drop anything, so the append-mode emitted set depends only on the
    final watermark — deterministic across any batch/restart split. The
    hash-partitioned ``event_dir`` is deliberately NOT reusable here:
    every file spans the whole time range, so after the first batch the
    watermark is near global max and what survives depends on file
    discovery order."""
    path = str(tmp_path_factory.mktemp("events_ranged"))
    shutil.rmtree(path, ignore_errors=True)
    (
        load_table(spark, SF_DIR, "events")
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def test_file_sink_checkpoint_recovery(spark, ranged_event_dir, tmp_path):
    """Stop/restart recovery (VERDICT r3 ask #6): a query killed after
    draining part of the input, restarted with the same checkpoint, must
    produce EXACTLY the uninterrupted run's output — no missing windows,
    no duplicates (file-source processed-file log + state store + sink
    commit log together give exactly-once)."""
    import glob
    import os
    import shutil as _sh
    import time as _time

    from albedo_spark.streaming import run_to_files

    # part-0000k holds the k-th ts range; copy preserving that order and
    # pin strictly increasing mtimes so the file source's discovery order
    # matches event-time order in BOTH runs.
    part_files = sorted(glob.glob(f"{ranged_event_dir}/part-*.parquet"))
    assert len(part_files) == 4
    base = _time.time() - 3600

    def land(f, dest_dir, seq):
        dst = os.path.join(dest_dir, os.path.basename(f))
        _sh.copy(f, dst)
        os.utime(dst, (base + seq, base + seq))

    def agg_over(path):
        stream = read_event_stream(spark, path, max_files_per_trigger=1)
        return windowed_event_counts(stream, window_duration="1 hour")

    # --- interrupted run: half the input, drain, "crash" (query is gone),
    # then the rest of the input lands and we restart from the checkpoint.
    in_a = tmp_path / "in_a"; in_a.mkdir()
    out_a = str(tmp_path / "out_a"); ckpt_a = str(tmp_path / "ckpt_a")
    for i, f in enumerate(part_files[:2]):
        land(f, str(in_a), i)
    run_to_files(agg_over(str(in_a)), out_a, ckpt_a)
    rows_after_crash = spark.read.parquet(out_a).count()
    for i, f in enumerate(part_files[2:], start=2):
        land(f, str(in_a), i)
    run_to_files(agg_over(str(in_a)), out_a, ckpt_a)  # same checkpoint

    # --- uninterrupted control run over identical total input
    in_b = tmp_path / "in_b"; in_b.mkdir()
    out_b = str(tmp_path / "out_b"); ckpt_b = str(tmp_path / "ckpt_b")
    for i, f in enumerate(part_files):
        land(f, str(in_b), i)
    run_to_files(agg_over(str(in_b)), out_b, ckpt_b)

    key = ("window_start", "event_type")
    resumed = spark.read.parquet(out_a)
    control = spark.read.parquet(out_b)
    got = {tuple(r) for r in resumed.collect()}
    want = {tuple(r) for r in control.collect()}
    assert got == want
    assert resumed.count() == resumed.select(*key).distinct().count()  # no dups
    # the restart actually added windows (it resumed, not restarted-from-zero
    # and not no-op'd)
    assert resumed.count() >= rows_after_crash
    assert len(want) > 0


def test_dedup_stream_matches_batch_distinct(spark, tmp_path):
    import datetime as dt
    from albedo_spark.streaming.events import dedup_stream

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, t, 1.0), (1, t, 1.0),                      # duplicate key in-batch
        (2, t + dt.timedelta(minutes=1), 2.0),
        (2, t + dt.timedelta(minutes=2), 2.5),         # same key, later arrival
        (3, t + dt.timedelta(minutes=3), 3.0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "k long, ts timestamp, v double").coalesce(1)\
        .write.parquet(src)
    stream = (
        spark.readStream.schema("k long, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = dedup_stream(stream, ["k"], watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dedup_gate")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.k,) for r in spark.table("dedup_gate").select("k").collect())
    assert got == [(1,), (2,), (3,)]


def test_run_to_upsert_streaming_merge(spark, tmp_path):
    from albedo_spark.streaming.events import run_to_upsert

    target = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    # seed target with an existing partition
    spark.createDataFrame(
        [("d1", 1, 1.0), ("d1", 2, 2.0), ("d2", 3, 3.0)],
        "day string, id long, v double",
    ).write.partitionBy("day").parquet(target)
    # stream carries an update (id 2) and an insert (id 9) for d1 only
    spark.createDataFrame(
        [("d1", 2, 20.0), ("d1", 9, 9.0)], "day string, id long, v double"
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("day string, id long, v double")
        .option("maxFilesPerTrigger", 10).parquet(src)
    )
    run_to_upsert(stream, target, ck, key_cols=["id"], partition_cols=["day"])
    got = {(str(r.day), r.id, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {
        ("d1", 1, 1.0), ("d1", 2, 20.0), ("d1", 9, 9.0),  # merged
        ("d2", 3, 3.0),                                   # untouched
    }


def test_compact_partitions(spark, tmp_path):
    from albedo_spark.io import compact_partitions
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    # 20 tiny files per partition (simulating per-trigger sink output)
    df = spark.range(2000).select(
        (F.col("id") % 2).cast("string").alias("day"), "id",
        (F.col("id") * 1.5).alias("v"),
    )
    df.repartition(20).write.partitionBy("day").parquet(path)
    before = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    assert before >= 20
    res = compact_partitions(spark, path, ["day"], target_mb=128)
    assert res["files_before"] == before
    assert res["files_after"] < before
    # data survives byte-for-byte
    got = spark.read.parquet(path)
    assert got.count() == 2000
    assert got.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_compact_partitions_skewed(spark, tmp_path):
    """Per-partition sizing: one fat day among tiny days must get
    ceil(its_bytes/target) files while every tiny day collapses to
    exactly one — a global coalesce gives neither (the r5 'weak'
    finding this pins)."""
    from albedo_spark.io import compact_partitions

    path = str(tmp_path / "skew")
    # one fat day (~several MB of incompressible hex) + 3 tiny days,
    # all shattered into many small files by a wide write
    fat = spark.range(60000).select(
        F.lit("fat").alias("day"), "id",
        F.sha2(F.col("id").cast("string"), 512).alias("payload"),
    )
    tiny = spark.range(150).select(
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("day"),
        "id", F.sha2(F.col("id").cast("string"), 512).alias("payload"),
    )
    fat.unionByName(tiny).repartition(16).write.partitionBy("day").parquet(path)
    res = compact_partitions(spark, path, ["day"], target_mb=1)

    per_part = {
        r["day"]: r["n"]
        for r in (
            spark.read.parquet(path)
            .select("day", F.col("_metadata.file_path").alias("f"))
            .distinct()
            .groupBy("day")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    # each tiny partition is a single shuffle key -> exactly one file
    assert per_part["t0"] == 1 and per_part["t1"] == 1 and per_part["t2"] == 1
    # the fat partition is sized by ITS OWN bytes (multiple ~1MB files);
    # same-partition bucket merges may reduce the count but never to the
    # single file a global coalesce would produce
    assert 2 <= per_part["fat"] <= res["target_files"]
    assert res["files_after"] == sum(per_part.values())
    # data survives
    assert spark.read.parquet(path).count() == 60150

    # partition-filtered compaction: before/after measured on the SAME
    # pruned scan (the r5 ADVICE incomparability fix)
    res2 = compact_partitions(
        spark, path, ["day"], target_mb=1, partitions=[{"day": "t0"}]
    )
    assert res2["files_before"] == 1 and res2["files_after"] == 1
    # untouched partitions still intact
    assert spark.read.parquet(path).count() == 60150


def test_run_to_dedup_store(spark, tmp_path):
    """Streaming ingest dedup vs the persisted digest store: only
    never-seen texts reach the sink; the store advances per batch;
    replaying input after a checkpoint reset emits nothing new."""
    from albedo_spark.streaming.events import run_to_dedup_store

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2, ck3 = (str(tmp_path / c) for c in ("ck1", "ck2", "ck3"))
    tbl = "t_stream_digstore"
    try:
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "ALPHA beta"), (3, "gamma delta")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        run_to_dedup_store(stream(), tbl, out, ck1)
        got1 = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert got1 == {1, 3}  # 2 is an in-batch dup of 1

        # second file: one replayed text, one novel
        spark.createDataFrame(
            [(10, "alpha   BETA"), (11, "epsilon zeta")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        run_to_dedup_store(stream(), tbl, out, ck2)  # fresh ck replays all
        rows = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows} == {1, 3, 11}

        # full replay with another fresh checkpoint: store blocks everything
        run_to_dedup_store(stream(), tbl, out, ck3)
        rows2 = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows2} == {1, 3, 11}
        # one row per distinct text overall
        assert len(rows2) == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_run_to_bm25_store(spark, tmp_path):
    """Streaming BM25 index maintenance: the first batch builds the
    store, later batches land as generations, search over the live
    store is byte-identical to a rebuild over everything ingested, and
    a full replay with a fresh checkpoint appends nothing (admit_novel
    idempotence — the store is its own sink)."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        bm25_store_search,
        build_bm25_store,
    )
    from albedo_spark.streaming.events import run_to_bm25_store

    src = str(tmp_path / "src")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    tbl, ref = "t_stream_bm25", "t_stream_bm25_ref"
    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    qdf = spark.createDataFrame(
        [("a", "fast hash join"), ("b", "slow table scan")],
        "query_id string, text string",
    )
    try:
        d.where("doc_id % 2 = 0").select("doc_id", "text").coalesce(
            1
        ).write.mode("append").parquet(src)
        d.where("doc_id % 2 = 1").select("doc_id", "text").coalesce(
            1
        ).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        run_to_bm25_store(stream(), tbl, ck1)
        # two files -> build + one appended generation
        assert spark.table(tbl + "_stats").count() == 2
        build_bm25_store(d.select("doc_id", "text"), ref)
        assert sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        ) == sorted(
            tuple(r) for r in bm25_store_search(qdf, ref, top_k=5).collect()
        )
        # full replay, fresh checkpoint: nothing admitted, nothing added
        n_rows = spark.table(tbl).count()
        run_to_bm25_store(stream(), tbl, ck2)
        assert spark.table(tbl).count() == n_rows
        assert spark.table(tbl + "_stats").count() == 2
    finally:
        for t in (tbl, ref):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_run_to_minhash_store(spark, tmp_path):
    """Streaming near-dup ingest vs the persisted MinHash store: only
    docs without an LSH candidate in history (or a smaller admitted
    batch doc) reach the sink; the store advances per batch; replaying
    everything after a checkpoint reset changes nothing (exactly-once
    admitted-doc effects); admit decisions match the batch
    dedup_incremental on the same prefix."""
    from albedo_spark.operators.dedup_store import (
        build_signature_store,
        dedup_incremental,
    )
    from albedo_spark.streaming.events import run_to_minhash_store

    t_a = "alpha beta gamma delta epsilon alpha beta gamma"
    t_b = "zeta eta theta iota kappa zeta eta theta"
    t_c = "lambda mu nu xi omicron lambda mu nu"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2, ck3 = (str(tmp_path / c) for c in ("ck1", "ck2", "ck3"))
    tbl = "t_stream_sigstore"
    try:
        spark.createDataFrame(
            [(1, t_a), (2, t_a), (3, t_b)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        run_to_minhash_store(stream(), tbl, out, ck1)
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}

        # second file: one near-dup of stored content, one novel
        spark.createDataFrame(
            [(10, t_a), (11, t_c)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        run_to_minhash_store(stream(), tbl, out, ck2)  # fresh ck replays all
        rows = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows} == {1, 3, 11}

        # full replay with another fresh checkpoint: store blocks
        # everything, directories rewrite in place — no growth
        run_to_minhash_store(stream(), tbl, out, ck3)
        rows2 = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows2} == {1, 3, 11}
        assert len(rows2) == 3

        # equivalence with the batch operator on the same prefix: a store
        # built from batch-1's admitted docs gives batch 2 exactly the
        # pairs that dropped doc 10 and admitted doc 11
        hist = spark.createDataFrame(
            [(1, t_a), (3, t_b)], "doc_id long, text string"
        )
        b2 = spark.createDataFrame(
            [(10, t_a), (11, t_c)], "doc_id long, text string"
        )
        build_signature_store(hist, "t_batch_prefix", num_buckets=8)
        batch_pairs = {
            (r.id_a, r.id_b)
            for r in dedup_incremental(b2, "t_batch_prefix").collect()
        }
        assert batch_pairs == {(1, 10)}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql("DROP TABLE IF EXISTS t_batch_prefix")


def test_near_dup_keep_plans_resolver_once(spark):
    """The sink's admit frame reads the store no more often than the
    resolver alone: both orientations of each candidate pair come from
    one projection of ``pairs``, so the resolver (store scans, bucket
    size aggregates, joins) is planned once, not once per orientation."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.dedup_store import (
        build_signature_store,
        dedup_incremental,
    )
    from albedo_spark.streaming.events import _near_dup_keep

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    tbl = "t_keep_once"
    try:
        build_signature_store(docs.where("doc_id % 5 != 0"), tbl, num_buckets=8)
        batch = docs.where("doc_id % 5 = 0")
        pairs = dedup_incremental(
            batch, tbl, exclude_store_ids=batch.select("doc_id")
        )
        keep = _near_dup_keep(batch, pairs, "doc_id")

        def store_scans(frame):
            plan = frame._jdf.queryExecution().optimizedPlan().toString()
            return plan.count(f"default.{tbl}[")

        assert store_scans(pairs) > 0
        assert store_scans(keep) == store_scans(pairs)
        # the admit set is the keeper rule over the same pairs
        pair_rows = [tuple(r) for r in pairs.select("id_a", "id_b").collect()]
        batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
        dropped = {
            mine
            for a, b in pair_rows
            for mine, other in ((a, b), (b, a))
            if mine in batch_ids and (other not in batch_ids or other < mine)
        }
        assert {r.doc_id for r in keep.select("doc_id").collect()} == (
            batch_ids - dropped
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_run_to_simhash_store(spark, tmp_path):
    """Hamming-granularity streaming ingest: a normalized-identical twin
    (hamming 0) is blocked by history across batches; full replay after
    a checkpoint reset changes nothing."""
    from albedo_spark.streaming.events import run_to_simhash_store

    t_a = "alpha beta gamma delta epsilon alpha beta gamma"
    t_b = "zeta eta theta iota kappa zeta eta theta"
    t_c = "lambda mu nu xi omicron lambda mu nu"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2, ck3 = (str(tmp_path / c) for c in ("ck1", "ck2", "ck3"))
    tbl = "t_stream_simstore"
    try:
        spark.createDataFrame(
            [(1, t_a), (2, t_a.upper()), (3, t_b)],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        run_to_simhash_store(stream(), tbl, out, ck1)
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}

        spark.createDataFrame(
            [(10, t_a), (11, t_c)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        run_to_simhash_store(stream(), tbl, out, ck2)  # fresh ck replays all
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}

        run_to_simhash_store(stream(), tbl, out, ck3)
        rows = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows} == {1, 3, 11}
        assert len(rows) == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_run_to_vector_store(spark, tmp_path):
    """Embedding-granularity streaming ingest (SemDeDup as a sink): a
    scaled copy (cosine 1.0) is blocked by history across batches; a
    same-batch twin keeps only the min id; full replay after a
    checkpoint reset changes nothing; the ANN store advances with
    admitted vectors only."""
    from albedo_spark.streaming.events import run_to_vector_store

    v_a = [1.0, 0.0, 0.0, 0.0]
    v_b = [0.0, 1.0, 0.0, 0.0]
    v_c = [0.0, 0.0, 1.0, 0.0]
    v_a2 = [2.0, 0.0, 0.0, 0.0]  # cosine 1.0 with v_a
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2, ck3 = (str(tmp_path / c) for c in ("ck1", "ck2", "ck3"))
    tbl = "t_stream_vecstore"
    schema = "vec_id long, embedding array<float>"
    try:
        spark.createDataFrame(
            [(1, v_a), (2, v_a2), (3, v_b)], schema
        ).coalesce(1).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        def run(ck):
            run_to_vector_store(
                stream(), tbl, out, ck, threshold=0.95, dim=4,
                num_planes=4, num_buckets=4,
            )

        run(ck1)
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 3}

        # second file: one scaled dup of stored content, one novel
        spark.createDataFrame(
            [(10, v_a2), (11, v_c)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run(ck2)  # fresh ck replays all
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}

        run(ck3)
        rows = spark.read.parquet(out).collect()
        assert {r.vec_id for r in rows} == {1, 3, 11}
        assert len(rows) == 3
        # store holds exactly the admitted vectors
        assert {r.vec_id for r in spark.table(tbl).collect()} == {1, 3, 11}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stage_gc_reaps_crashed_builder_tmp(spark):
    """r5 ADVICE: a foreign .tmp-* dir older than the long grace is a
    crashed builder's debris and must be reaped; a FRESH foreign tmp (a
    live builder) must be left alone."""
    import os
    import time

    from albedo_spark.queries import _stage_event_stream

    sf_dir = "/root/testdata/sf0.001"
    stage, tag = _stage_event_stream(spark, sf_dir)
    root = os.path.dirname(stage)
    old_tmp = os.path.join(root, "events-deadbee.tmp-99999")
    fresh_tmp = os.path.join(root, "events-cafebab.tmp-99998")
    os.makedirs(old_tmp, exist_ok=True)
    os.makedirs(fresh_tmp, exist_ok=True)
    ancient = time.time() - 7 * 3600  # past the 6 h tmp grace
    os.utime(old_tmp, (ancient, ancient))
    try:
        _stage_event_stream(spark, sf_dir)
        assert not os.path.exists(old_tmp)   # crashed-builder debris reaped
        assert os.path.exists(fresh_tmp)     # live builder untouched
        assert os.path.exists(stage)         # published stage untouched
    finally:
        import shutil
        shutil.rmtree(fresh_tmp, ignore_errors=True)
        shutil.rmtree(old_tmp, ignore_errors=True)


def test_hygiene_transform_stream_equals_batch(spark, tmp_path):
    """The map-only hygiene front is batch/streaming agnostic: the SAME
    transform over a file stream (2 micro-batches) yields exactly the
    batch result — stateless maps need no watermark and run in append
    mode. NULL text passes every stage."""
    from albedo_spark.operators.quality import hygiene_transform
    from albedo_spark.streaming.events import run_to_memory

    d = str(tmp_path / "docs_stream")
    rows1 = [
        (1, "<p>the cat sat on the mat and it is a fine day for all of us "
            "in the garden today really</p>"),
        (2, "spam slow spam"),                      # blocklisted
        (3, None),                                   # NULL -> passes
    ]
    rows2 = [
        (4, "mail me at a@b.io <i>the road goes ever on and on down from "
            "the door where it began now</i>"),
        (5, "!!! ??? !!!"),                          # low quality -> floor
    ]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(d)

    kwargs = dict(blocklist=["slow"], min_quality_x10k=5000)
    batch = hygiene_transform(spark.read.parquet(d), **kwargs)
    expected = {r.doc_id: r.text for r in batch.collect()}

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    run_to_memory(hygiene_transform(stream, **kwargs), "hyg_stream", mode="append")
    got = {r.doc_id: r.text for r in spark.table("hyg_stream").collect()}

    assert got == expected
    assert 3 in got and got[3] is None               # NULL passed through
    assert 2 not in got and 5 not in got             # blocklist + floor
    assert "<p>" not in (got.get(1) or "")           # markup stripped
    assert "<EMAIL>" in (got.get(4) or "")           # PII redacted


def test_run_to_cms_store_equals_batch_and_replays_idempotently(spark, tmp_path):
    """Streaming CMS generations: summed store == batch-built sketch over
    all ingested rows; a full replay with a fresh checkpoint rewrites the
    same generations (overwrite idempotence) instead of double-counting."""
    from albedo_spark.operators.sketches import build_cms
    from albedo_spark.streaming.events import read_cms_store, run_to_cms_store

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    f1 = [(i % 5,) for i in range(60)]
    f2 = [(i % 11,) for i in range(40)]
    spark.createDataFrame(f1, "k long").coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, "k long").coalesce(1).write.mode("append").parquet(src)

    def stream():
        return (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    run_to_cms_store(stream(), out, ck1, "k", depth=3, width=8)
    store = {
        (r.row, r.bucket): r.cell for r in read_cms_store(spark, out).collect()
    }
    batch = {
        (r.row, r.bucket): r.cell
        for r in build_cms(
            spark.createDataFrame(f1 + f2, "k long"), "k", depth=3, width=8
        ).collect()
    }
    assert store == batch
    assert sum(store.values()) == 100 * 3  # mass = rows x depth

    # fresh checkpoint -> the SAME batches replay into the SAME
    # generation directories: cells unchanged, nothing double-counted
    run_to_cms_store(stream(), out, ck2, "k", depth=3, width=8)
    store2 = {
        (r.row, r.bucket): r.cell for r in read_cms_store(spark, out).collect()
    }
    assert store2 == store


def test_run_to_hll_store_equals_batch(spark, tmp_path):
    from albedo_spark.operators.sketches import build_hll, hll_estimate
    from albedo_spark.streaming.events import read_hll_store, run_to_hll_store

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    f1 = [(i,) for i in range(0, 900)]
    f2 = [(i,) for i in range(600, 1500)]  # overlaps f1: distinct total 1500
    spark.createDataFrame(f1, "k long").coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, "k long").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_hll_store(stream, out, str(tmp_path / "ck"), "k", m=64)
    store = {r.bucket: r.reg for r in read_hll_store(spark, out).collect()}
    batch = {
        r.bucket: r.reg
        for r in build_hll(spark.createDataFrame(f1 + f2, "k long"), "k", m=64).collect()
    }
    assert store == batch
    est = hll_estimate(read_hll_store(spark, out), m=64).first().est
    assert abs(est - 1500) / 1500 < 0.39  # 3 sigma at m=64


def test_run_to_histogram_store_equals_batch_and_replays(spark, tmp_path):
    """Streaming histogram generations: summed store == batch-built
    histogram over all ingested rows (grouped, zero-filled per group); a
    full replay with a fresh checkpoint rewrites the same generations
    instead of double-counting; quantiles read straight off the store."""
    from albedo_spark.operators.sketches import build_histogram, histogram_quantiles
    from albedo_spark.streaming.events import (
        read_histogram_store,
        run_to_histogram_store,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    edges = [10, 50, 200]

    f1 = [("a", i) for i in range(0, 60)] + [("b", 500)]
    f2 = [("a", i * 4) for i in range(0, 40)] + [("b", 5)]
    spark.createDataFrame(f1, "g string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(f2, "g string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def stream():
        return (
            spark.readStream.schema("g string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    run_to_histogram_store(stream(), out, ck1, "v", edges, group_col="g")
    store = {
        (r.g, r.bucket): r.cnt
        for r in read_histogram_store(spark, out, group_col="g").collect()
    }
    batch = {
        (r.g, r.bucket): r.cnt
        for r in build_histogram(
            spark.createDataFrame(f1 + f2, "g string, v long"),
            "v",
            edges,
            group_col="g",
        ).collect()
    }
    assert store == batch
    assert sum(store.values()) == len(f1) + len(f2)

    run_to_histogram_store(stream(), out, ck2, "v", edges, group_col="g")
    store2 = {
        (r.g, r.bucket): r.cnt
        for r in read_histogram_store(spark, out, group_col="g").collect()
    }
    assert store2 == store

    # running percentiles straight off the store frame
    live = read_histogram_store(spark, out, group_col="g")
    qs = {
        (r.g, r.q_x100): r.est
        for r in histogram_quantiles(live, edges, [50, 99], group_col="g").collect()
    }
    assert qs[("a", 50)] in edges and qs[("b", 99)] == 200


def test_run_to_pq_store_bootstrap_append_replay(spark, tmp_path):
    """PQ-store sink twin: the first non-empty batch bootstraps the store
    (trains + freezes the coarse model), later batches append codes
    encoded against the FROZEN cells, and a full replay from a fresh
    checkpoint admits nothing new (the replay guard)."""
    from albedo_spark.streaming.events import run_to_pq_store

    def vec(i):
        return [float((i * 31 + d * 7) % 13 - 6) for d in range(64)]

    src = str(tmp_path / "src")
    ck1, ck2, ck3 = (str(tmp_path / c) for c in ("ck1", "ck2", "ck3"))
    tbl = "t_stream_pqstore"
    schema = "vec_id long, embedding array<double>"
    try:
        spark.createDataFrame(
            [(i, vec(i)) for i in range(10)], schema
        ).coalesce(1).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        def run(ck):
            run_to_pq_store(
                stream(), tbl, ck, kc=2, m=4, subdim=16,
                stride=1, num_buckets=2,
            )

        run(ck1)  # bootstrap
        assert spark.table(tbl).count() == 10 * 4  # m rows per vector
        cells = {r.cluster_id for r in spark.table(tbl + "_cents").collect()}
        assert len(cells) == 2

        spark.createDataFrame(
            [(i, vec(i)) for i in range(10, 15)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run(ck2)  # fresh checkpoint -> replays file 1 (guarded) + file 2
        # appends happened in micro-batch session clones: refresh the
        # outer session's cached relation before re-reading (standard
        # external-append semantics, not a sink defect)
        spark.catalog.refreshTable(tbl)
        assert spark.table(tbl).count() == 15 * 4
        # frozen model: appended codes reference only bootstrap cells
        used = {r.cluster_id
                for r in spark.table(tbl).select("cluster_id").distinct().collect()}
        assert used <= cells

        run(ck3)  # full replay: nothing admitted
        spark.catalog.refreshTable(tbl)
        assert spark.table(tbl).count() == 15 * 4
        # every vector has exactly m distinct subspace codes
        from pyspark.sql import functions as F
        bad = (
            spark.table(tbl).groupBy("vec_id")
            .agg(F.countDistinct("s").alias("ns"), F.count("*").alias("n"))
            .where("ns != 4 OR n != 4")
            .count()
        )
        assert bad == 0
    finally:
        for suf in ("", "_cents", "_cb"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_run_to_url_store(spark, tmp_path):
    """Streaming ingest dedup vs the persisted canonical-URL store
    (the URL rung's streaming twin): only never-fetched canonical URLs
    reach the sink; the store advances per batch; replaying input
    after a checkpoint reset emits nothing new (replay idempotence)."""
    from albedo_spark.streaming.events import run_to_url_store

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck1, ck2, ck3 = (str(tmp_path / c) for c in ("ck1", "ck2", "ck3"))
    tbl = "t_stream_urlstore"
    try:
        spark.createDataFrame(
            [
                (1, "http://a.com/x?utm_source=feed"),
                (2, "HTTP://A.COM:80/x#frag"),  # in-batch dup of 1
                (3, "https://b.com/y/"),
                (4, None),                      # NULL url: not ingested
            ],
            "doc_id long, url string",
        ).coalesce(1).write.mode("append").parquet(src)

        def stream():
            return (
                spark.readStream.schema("doc_id long, url string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        run_to_url_store(stream(), tbl, out, ck1)
        got1 = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert got1 == {1, 3}

        # second file: one refetch of history, one novel
        spark.createDataFrame(
            [(10, "http://a.com/x"), (11, "http://c.com/new")],
            "doc_id long, url string",
        ).coalesce(1).write.mode("append").parquet(src)
        run_to_url_store(stream(), tbl, out, ck2)  # fresh ck replays all
        rows = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows} == {1, 3, 11}

        # full replay with another fresh checkpoint: store blocks all
        run_to_url_store(stream(), tbl, out, ck3)
        rows2 = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows2} == {1, 3, 11}
        assert len(rows2) == 3  # one row per distinct canonical URL
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
