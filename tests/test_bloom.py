"""Bloom sidecar for the digest store (operators/dedup_store.py): no
false negatives ever, sized false-positive rate, byte-identical
resolution with/without the sidecar, generation append + merge, and the
map-side-split property the sidecar exists for."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from albedo_spark.operators.dedup import normalize_text
from albedo_spark.operators.dedup_store import (
    append_bloom,
    append_digests,
    bloom_bitmap,
    bloom_might_contain,
    build_bloom_sidecar,
    build_digest_store,
    exact_dedup_incremental,
    merge_bloom_generations,
)


def _real_docs(spark):
    from albedo_spark.io import load_table

    return load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")


def _probe(spark, keys_df, key_col, bits_rows, num_bits, num_hashes):
    """Probe keys against a list-of-generations frame; returns dict
    key -> maybe."""
    gens = bits_rows.agg(F.collect_list("bits").alias("_gens"))
    out = keys_df.crossJoin(F.broadcast(gens)).select(
        key_col,
        bloom_might_contain(
            F.col(key_col), F.col("_gens"), num_bits, num_hashes
        ).alias("maybe"),
    )
    return {r[key_col]: r.maybe for r in out.collect()}


def test_bitmap_no_false_negatives_and_sized_fp(spark):
    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(200)], "k string"
    )
    bm = bloom_bitmap(keys, "k", num_bits=64 * 64, num_hashes=5)
    row = bm.first()
    assert len(row.bits) == 64
    # every inserted key answers maybe=True — the hard guarantee
    hits = _probe(spark, keys, "k", bm, 64 * 64, 5)
    assert all(hits.values())
    # disjoint keys: mostly False, deterministic fp trickle stays small
    # (4096 bits / 200 keys / 5 hashes → theoretical fp ≈ 2%)
    other = spark.createDataFrame(
        [(f"absent-{i}",) for i in range(500)], "k string"
    )
    miss = _probe(spark, other, "k", bm, 64 * 64, 5)
    fp = sum(1 for v in miss.values() if v)
    assert fp / 500 < 0.10, fp


def test_bitmap_rejects_unaligned_bits(spark):
    keys = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        bloom_bitmap(keys, "k", num_bits=100, num_hashes=3)


def test_null_keys_skipped_and_probe_null(spark):
    keys = spark.createDataFrame([("a",), (None,)], "k string")
    bm = bloom_bitmap(keys, "k", num_bits=640, num_hashes=3)
    gens = bm.agg(F.collect_list("bits").alias("_gens"))
    out = (
        spark.createDataFrame([("a",), (None,)], "k string")
        .crossJoin(F.broadcast(gens))
        .select(
            "k",
            bloom_might_contain(F.col("k"), F.col("_gens"), 640, 3).alias("m"),
        )
        .collect()
    )
    by_key = {r.k: r.m for r in out}
    assert by_key["a"] is True
    # NULL key hashes like an empty row (xxhash64 skips NULLs) — the
    # answer is a routing choice only; resolution handles NULL digests
    # on either branch (test_bloom_resolution_equivalence plants them)
    assert by_key[None] in (True, False)


def test_bloom_resolution_equivalence(spark):
    """The headline contract: exact_dedup_incremental with the sidecar
    returns byte-identical rows to the plain path, on a batch mixing
    historical dups, batch-internal dups, novel docs, and NULL text."""
    docs = _real_docs(spark)
    hist = docs.where("doc_id % 3 != 0")
    build_digest_store(hist, "blq_store", num_buckets=8)
    build_bloom_sidecar(spark, "blq_store", "blq_side", num_bits=1 << 14)
    try:
        batch = (
            docs.where("doc_id % 3 = 1")  # in the store → historical dups
            .select((F.col("doc_id") + 50000).alias("doc_id"), "text")
            .unionByName(
                docs.where("doc_id % 7 = 1").select(
                    (F.col("doc_id") + 60000).alias("doc_id"),
                    F.concat(F.lit("bloom novel "), F.col("text")).alias("text"),
                )
            )
            .unionByName(
                spark.createDataFrame(
                    [(99001, None), (99002, None)], "doc_id long, text string"
                )
            )
        )
        plain = {
            tuple(r)
            for r in exact_dedup_incremental(batch, "blq_store").collect()
        }
        bloomed = {
            tuple(r)
            for r in exact_dedup_incremental(
                batch, "blq_store", bloom_table="blq_side"
            ).collect()
        }
        assert plain == bloomed
        assert any(r[2] for r in plain)       # non-vacuous: dups present
        assert any(not r[2] for r in plain)   # and novel docs present
    finally:
        _drop(spark, "blq_store", "blq_side")


def test_append_bloom_keeps_lockstep(spark):
    """Loop discipline: batch1's novel digests appended to BOTH store and
    sidecar; batch2 re-submitting batch1's docs must see them as dups —
    i.e. the new generation actually answers maybe=True (a false negative
    here would silently re-admit duplicates)."""
    docs = _real_docs(spark)
    hist = docs.where("doc_id % 4 = 1")
    build_digest_store(hist, "blq_store2", num_buckets=8)
    build_bloom_sidecar(spark, "blq_store2", "blq_side2", num_bits=1 << 14)
    try:
        b1 = docs.where("doc_id % 4 = 2").select(
            (F.col("doc_id") + 70000).alias("doc_id"), "text"
        )
        r1 = exact_dedup_incremental(
            b1, "blq_store2", bloom_table="blq_side2"
        ).localCheckpoint()
        append_digests(r1, "blq_store2")
        append_bloom(
            r1.where(~F.col("is_dup") & F.col("digest").isNotNull()),
            "blq_side2",
        )
        assert spark.table("blq_side2").count() == 2  # two generations
        b2 = docs.where("doc_id % 4 = 2").select(
            (F.col("doc_id") + 80000).alias("doc_id"), "text"
        )
        r2 = exact_dedup_incremental(
            b2, "blq_store2", bloom_table="blq_side2"
        )
        # every b2 row duplicates its b1 twin through the appended store
        assert r2.where(~F.col("is_dup")).count() == 0
        keepers = {r.keeper_id for r in r2.collect()}
        assert all(70000 <= k < 80000 for k in keepers), keepers
        # merge maintenance: one generation afterwards, same answers
        merged_n = merge_bloom_generations(spark, "blq_side2")
        assert merged_n == 2
        assert spark.table("blq_side2").count() == 1
        r2m = exact_dedup_incremental(
            b2, "blq_store2", bloom_table="blq_side2"
        )
        assert {tuple(r) for r in r2.collect()} == {
            tuple(r) for r in r2m.collect()
        }
    finally:
        _drop(spark, "blq_store2", "blq_side2")


def test_merge_noop_and_param_mismatch(spark):
    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    bm = bloom_bitmap(keys, "k", num_bits=640, num_hashes=3).select(
        F.lit(640).alias("num_bits"), F.lit(3).alias("num_hashes"), "bits"
    )
    bm.write.mode("overwrite").format("parquet").saveAsTable("blq_side3")
    try:
        assert merge_bloom_generations(spark, "blq_side3") == 1  # no-op
        bad = bloom_bitmap(keys, "k", num_bits=1280, num_hashes=3).select(
            F.lit(1280).alias("num_bits"), F.lit(3).alias("num_hashes"), "bits"
        )
        bad.write.mode("append").format("parquet").saveAsTable("blq_side3")
        with pytest.raises(ValueError):
            merge_bloom_generations(spark, "blq_side3")
    finally:
        _drop(spark, "blq_side3")


def test_novel_branch_bypasses_store(spark):
    """The scale property: for an all-novel batch the store join receives
    only the bloom's false-positive trickle — with a well-sized sidecar,
    (near) zero rows — while the definite-novel branch never touches the
    store at all (its subplan simply has no store relation)."""
    docs = _real_docs(spark)
    hist = docs.where("doc_id % 2 = 0")
    build_digest_store(hist, "blq_store4", num_buckets=8)
    build_bloom_sidecar(spark, "blq_store4", "blq_side4", num_bits=1 << 16)
    try:
        novel = docs.where("doc_id % 2 = 1").select(
            "doc_id",
            F.concat(F.lit("entirely novel prefix "), F.col("text")).alias(
                "text"
            ),
        )
        side = spark.table("blq_side4")
        gens = side.agg(F.collect_list("bits").alias("_gens"))
        hashed = novel.select(
            "doc_id", F.md5(normalize_text(F.col("text"))).alias("digest")
        )
        flags = hashed.crossJoin(F.broadcast(gens)).select(
            F.coalesce(
                bloom_might_contain(F.col("digest"), F.col("_gens"), 1 << 16, 5),
                F.lit(False),
            ).alias("maybe")
        )
        n = flags.count()
        n_maybe = flags.where("maybe").count()
        assert n > 0
        # deterministic given fixed hashing; generous bound — expected fp
        # at 65536 bits for a few hundred keys is ~0
        assert n_maybe / n < 0.05, (n_maybe, n)
        # and the resolution stays exact end-to-end
        plain = {
            tuple(r)
            for r in exact_dedup_incremental(novel, "blq_store4").collect()
        }
        bloomed = {
            tuple(r)
            for r in exact_dedup_incremental(
                novel, "blq_store4", bloom_table="blq_side4"
            ).collect()
        }
        assert plain == bloomed
    finally:
        _drop(spark, "blq_store4", "blq_side4")


def test_sharded_sidecar_equivalence_lockstep_and_merge(spark):
    """Sharded Bloom sidecar (r12 — the >4M-key form): (a) admit
    decisions through a SHARDED sidecar are byte-identical to the
    monolithic sidecar AND to no sidecar at all on the PQ store, (b)
    sharded probes have NO false negatives (every stored id maybe-seen),
    (c) append keeps one generation (num_shards rows) in lockstep, (d)
    merge collapses generations per shard and leaves probe answers
    unchanged, and (e) nothing bitmap-sized broadcasts — the batch side
    is the build side of the probe join."""
    from albedo_spark.operators.dedup_store import (
        merge_sharded_bloom_generations,
        sharded_bloom_maybe,
    )
    from albedo_spark.operators.vector_store import admit_novel, build_id_bloom

    def vec(i):
        return [float((i * 31 + d * 7) % 13 - 6) for d in range(64)]

    schema = "vec_id long, embedding array<double>"
    from albedo_spark.operators.vector_store import (
        append_pq_vectors,
        build_pq_store,
    )

    base = spark.createDataFrame([(i, vec(i)) for i in range(300)], schema)
    batch = spark.createDataFrame(
        [(i, vec(i)) for i in range(250, 400)], schema  # 50 replayed, 100 new
    )

    def run(shards):
        tbl = f"shb_{shards if shards else 'none'}"
        for suf in ("", "_cents", "_cb", "_bloom"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")
        build_pq_store(base, tbl, kc=4, m=4, subdim=16, num_buckets=4,
                       stride=7)
        if shards is not None:
            build_id_bloom(spark, tbl, num_bits=1 << 10, num_shards=shards)
        append_pq_vectors(batch, tbl, m=4, subdim=16)
        rows = sorted(tuple(r) for r in spark.table(tbl).collect())
        return tbl, rows

    t_none, r_none = run(None)
    t_mono, r_mono = run(0)   # num_shards falsy -> monolithic
    t_shrd, r_shrd = run(4)
    try:
        assert r_none == r_mono == r_shrd and r_none  # (a)

        # (b) no false negatives through the sharded probe
        stored = spark.table(t_shrd).select(
            F.col("vec_id").alias("k")
        ).distinct()
        flags = sharded_bloom_maybe(stored, t_shrd + "_bloom", "k")
        assert flags.where(~F.col("_maybe")).count() == 0

        # (c) lockstep: build + one append generation = 2 * num_shards rows
        side = spark.table(t_shrd + "_bloom")
        assert side.count() == 2 * 4

        # (d) merge collapses to one generation per shard, answers equal
        before = {
            r.k: r._maybe
            for r in sharded_bloom_maybe(
                stored, t_shrd + "_bloom", "k"
            ).collect()
        }
        n_gen = merge_sharded_bloom_generations(spark, t_shrd + "_bloom")
        assert n_gen == 2
        assert spark.table(t_shrd + "_bloom").count() == 4
        after = {
            r.k: r._maybe
            for r in sharded_bloom_maybe(
                stored, t_shrd + "_bloom", "k"
            ).collect()
        }
        assert before == after

        # (e) the probe join's build side is the BATCH, not the sidecar:
        # fresh-batch admit plan has no store relation and broadcasts the
        # key frame (BroadcastHashJoin with the sidecar as stream side)
        fresh = spark.range(10**9, 10**9 + 50).select(
            F.col("id").alias("vec_id"),
            F.lit([0.0] * 64).cast("array<double>").alias("embedding"),
        )
        from albedo_spark.operators.clustering import integerize_embeddings

        iv = integerize_embeddings(fresh)
        adm = admit_novel(iv, t_shrd)
        assert adm.count() == 50  # all fresh ids admitted
        # plan shape on the PROBE frame itself (admit_novel's returned
        # frame sits behind a materialized localCheckpoint): the batch
        # keys are the BROADCAST build side, the sidecar streams, and
        # the store relation never appears
        probe = sharded_bloom_maybe(iv, t_shrd + "_bloom", "vec_id")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        n_store_refs = plan.count(f"default.{t_shrd}") - plan.count(
            f"default.{t_shrd}_bloom"
        )
        assert n_store_refs == 0, "sharded probe touched the store"
        assert "BroadcastHashJoin" in plan
    finally:
        for t in (t_none, t_mono, t_shrd):
            for suf in ("", "_cents", "_cb", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_url_bloom_resolution_equivalence(spark):
    """The sidecar contract at the URL rung (r15): url_dedup_incremental
    with a canonical_url-keyed sidecar returns byte-identical rows to
    the plain path, on a batch mixing historical refetches,
    batch-internal dups, novel URLs, and NULL urls."""
    from albedo_spark.operators.dedup_store import (
        build_url_store,
        url_dedup_incremental,
    )

    docs = _real_docs(spark).withColumn(
        "url",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("http://H"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/p/"),
                (F.col("doc_id") % 23).cast("string"),
                F.lit("?utm_source=x"),
            )
        ),
    ).select("doc_id", "url")
    hist = docs.where("doc_id % 3 != 0")
    build_url_store(hist, "blu_store", num_buckets=8)
    build_bloom_sidecar(
        spark, "blu_store", "blu_side",
        key_col="canonical_url", num_bits=1 << 14,
    )
    try:
        batch = docs.where("doc_id % 3 = 0").select(
            (F.col("doc_id") + 50000).alias("doc_id"), "url"
        )
        plain = {
            tuple(r)
            for r in url_dedup_incremental(batch, "blu_store").collect()
        }
        bloomed = {
            tuple(r)
            for r in url_dedup_incremental(
                batch, "blu_store", bloom_table="blu_side"
            ).collect()
        }
        assert plain == bloomed
        assert any(r[2] for r in plain)
        assert any(not r[2] for r in plain)
    finally:
        _drop(spark, "blu_store", "blu_side")


def test_url_sharded_bloom_resolution_equivalence(spark):
    """Sharded-sidecar branch at the URL rung: byte-identical to the
    plain path (the inverted probe — keys broadcast INTO the sidecar
    scan — applied to canonical_url keys)."""
    from albedo_spark.operators.dedup_store import (
        build_sharded_bloom_sidecar,
        build_url_store,
        url_dedup_incremental,
    )

    docs = _real_docs(spark).withColumn(
        "url",
        F.concat(
            F.lit("http://S"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 19).cast("string"),
        ),
    ).select("doc_id", "url")
    hist = docs.where("doc_id % 3 != 0")
    build_url_store(hist, "blus_store", num_buckets=8)
    build_sharded_bloom_sidecar(
        spark, "blus_store", "blus_side",
        key_col="canonical_url", num_shards=4, num_bits=1 << 12,
    )
    try:
        batch = docs.where("doc_id % 3 = 0").select(
            (F.col("doc_id") + 70000).alias("doc_id"), "url"
        )
        plain = {
            tuple(r)
            for r in url_dedup_incremental(batch, "blus_store").collect()
        }
        sharded = {
            tuple(r)
            for r in url_dedup_incremental(
                batch, "blus_store", bloom_table="blus_side"
            ).collect()
        }
        assert plain == sharded
        assert any(r[2] for r in plain)
    finally:
        _drop(spark, "blus_store", "blus_side")


@pytest.mark.parametrize("shards", [0, 4], ids=["monolithic", "sharded"])
def test_bloom_merge_crash_adoption(spark, shards):
    """Both bloom merges publish through the shared private-copy swap. A
    crash between its DROP and RENAME strands the merged sidecar under
    ``{sidecar}__c<pid>`` with the published name gone: the next merge
    ADOPTS it, and admit decisions are unchanged. A stale private copy
    beside a live sidecar is debris and is dropped."""
    from albedo_spark.operators.dedup_store import (
        merge_sharded_bloom_generations,
    )
    from albedo_spark.operators.vector_store import (
        admit_novel,
        build_id_bloom,
        mirror_bloom,
    )

    merge = merge_sharded_bloom_generations if shards else merge_bloom_generations
    tbl = f"blq_crash_{shards}"
    side = tbl + "_bloom"
    ids = spark.range(0, 60).select(F.col("id").alias("vec_id"))
    probe = spark.range(40, 120).select(F.col("id").alias("vec_id"))

    def admitted():
        return sorted(r.vec_id for r in admit_novel(probe, tbl).collect())

    try:
        ids.where("vec_id < 30").write.mode("overwrite").saveAsTable(tbl)
        build_id_bloom(spark, tbl, num_bits=1 << 10, num_shards=shards)
        late = ids.where("vec_id >= 30")
        mirror_bloom(late, tbl)  # second generation, then the rows
        late.write.mode("append").saveAsTable(tbl)
        want = admitted()
        assert want == list(range(60, 120))

        # crash window: the private copy is complete, the published
        # sidecar was dropped, the RENAME never ran
        spark.table(side).write.saveAsTable(f"{side}__c999")
        spark.sql(f"DROP TABLE `{side}`")
        assert merge(spark, side) == 2  # adopted, then merged
        assert not spark.catalog.tableExists(f"{side}__c999")
        assert spark.table(side).count() == max(shards, 1)  # one generation
        assert admitted() == want

        # stale private copy beside a live sidecar: dropped
        spark.table(side).write.saveAsTable(f"{side}__c123")
        assert merge(spark, side) == 1
        assert not spark.catalog.tableExists(f"{side}__c123")
        assert admitted() == want
    finally:
        _drop(spark, tbl, side, f"{side}__c999", f"{side}__c123")
