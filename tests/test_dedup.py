"""Dedup operator semantics: planted duplicates must be found; hashes are
portable; SimHash of near-identical docs is near-identical."""

import random

import pytest
from pyspark.sql import functions as F

from albedo_spark.operators.dedup import (
    exact_dedup,
    exact_duplicates,
    jaccard_verify,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE + " extra tail words here"),  # near dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "another unrelated document mentioning joins aggregates and scans"),
        (6, BASE.upper()),  # exact dup after normalization
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_dups == 3  # 1, 2, 6
    assert groups[0].keeper_id == 1


def test_exact_dedup_keeps_min_id(docs):
    kept = {r.doc_id for r in exact_dedup(docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_minhash_finds_planted_near_dup(docs):
    cand = minhash_lsh_pairs(docs, max_bucket=50)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 2) in pairs and (1, 6) in pairs  # exact dups always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup should bucket-collide
    verified = jaccard_verify(cand, docs, threshold=0.5)
    vpairs = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (1, 2) in vpairs
    assert not any({a, b} & {4, 5} for a, b in vpairs)


def test_jaccard_exact_value(spark):
    # token sets: {a b c d} vs {a b c e} → J = 3/5
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    out = ngram_jaccard_pairs(df, n=1, threshold=0.0).collect()
    assert len(out) == 1
    assert out[0].jaccard == pytest.approx(3 / 5)


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    sh = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0].s
    assert sh == ["one two"]


def test_simhash_properties(docs):
    out = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash(F.col("text"), 32).alias("sh")).collect()}
    assert out[1] == out[2] == out[6]  # normalization-equal docs
    # near-dup hamming distance small vs unrelated
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(out[1], out[3]) < ham(out[1], out[4])
    assert all(0 <= v < (1 << 32) for v in out.values())


def test_edit_distance_pairs_planted(spark):
    from albedo_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "cold ring"),
        (2, "old ring"),      # dist 1 from 1, shares token "ring"
        (3, "cold rimg"),     # dist 1 from 1 (typo), shares "cold"
        (4, "warm plate"),    # unrelated
        (5, "entirely disjoint tokens"),  # no shared token with anyone
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in edit_distance_pairs(df, max_dist=2).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 1
    # "old ring" vs "cold rimg" is 2 edits but shares NO token — the
    # blocking contract misses it (recall trade documented on the operator)
    assert (2, 3) not in got
    assert all(d <= 2 for d in got.values())
    assert not any(4 in p or 5 in p for p in got)


def test_edit_distance_pairs_blocking_contract(spark):
    """Pairs sharing NO token are (by contract) not candidates even if close."""
    from albedo_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd")], "doc_id long, text string"
    )
    assert edit_distance_pairs(df, max_dist=2).count() == 0


def test_null_text_rows_survive_exact_dedup(spark):
    """NULL texts carry no content: exact_dedup must pass them through
    unchanged (the null-unsafe join of the earlier form silently DROPPED
    every NULL-text row), and exact_duplicates must not lump them into one
    NULL-digest 'duplicate' group."""
    rows = [(1, "same text"), (2, "same text"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kept = {r.doc_id for r in exact_dedup(df).collect()}
    assert kept == {1, 3, 4}  # real dup collapsed, both NULL rows intact

    groups = exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0].keeper_id == 1 and groups[0].n_dups == 2


def test_connected_components_structure(spark):
    """Chain (tests O(log diameter) pointer-jumping convergence), a
    separate triangle, and an isolated pair — labels must be the min id
    of each true component."""
    from albedo_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10, 25)]          # one 16-node chain
    tri = [(100, 101), (101, 102), (100, 102)]           # triangle
    iso = [(7, 3)]                                       # pair, reversed ids
    df = spark.createDataFrame(chain + tri + iso, "id_a long, id_b long")
    got = {r.node: r.label for r in connected_components(df).collect()}
    assert all(got[n] == 10 for n in range(10, 26))
    assert got[100] == got[101] == got[102] == 100
    assert got[3] == got[7] == 3
    assert len(got) == 16 + 3 + 2


def test_connected_components_iteration_bound(spark):
    """A 64-node path must converge within max_iter=10: pure HashMin needs
    ~63 rounds (labels travel one hop per round); path halving gets
    O(log n). If someone drops the pointer-jumping step this fails."""
    from albedo_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    got = {r.node: r.label for r in connected_components(df, max_iter=10).collect()}
    assert set(got.values()) == {0}


def test_keeper_by_quality_election(spark):
    """Per-component argmax election: highest score wins, ties break to
    the smallest id, every member row carries its component's keeper,
    docs outside every component don't appear."""
    from albedo_spark.operators.dedup import keeper_by_quality

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node long, label long"
    )
    scored = spark.createDataFrame(
        # doc 4 is in no component; 10 and 11 tie on score
        [(1, 50), (2, 90), (3, 90), (4, 99), (10, 70), (11, 70)],
        "doc_id long, quality_x10k long",
    )
    rows = {r.doc_id: r for r in keeper_by_quality(comps, scored).collect()}
    assert set(rows) == {1, 2, 3, 10, 11}
    assert all(rows[d].keeper_id == 2 for d in (1, 2, 3))  # 90-tie -> min id 2
    assert [rows[d].is_kept for d in (1, 2, 3)] == [False, True, False]
    assert rows[10].keeper_id == 10 and rows[10].is_kept
    assert rows[11].keeper_id == 10 and not rows[11].is_kept
    assert rows[1].component_id == 1 and rows[11].component_id == 10


def test_ngram_jaccard_max_df_guard(spark):
    """df-cap semantics: with a cap no shingle above the cap contributes,
    quadratic stop-shingle pairs disappear, and a cap at/above the true
    max document frequency reproduces the exact result."""
    from albedo_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        # 'common' appears in every doc (stop-shingle); docs 1/2 share the
        # rare 'alpha beta', doc 3 is unrelated
        (1, "common alpha beta x1"),
        (2, "common alpha beta x2"),
        (3, "common zz yy x3"),
        (4, "common qq pp x4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(df, n=1, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(df, n=1, threshold=0.3, max_df=3).collect()
    }
    # exact: every pair shares 'common' (jaccard 1/7 < 0.3 for unrelated,
    # 3/5 for 1-2) -> only (1,2) passes either way
    assert set(exact) == {(1, 2)}
    assert set(capped) == {(1, 2)}
    # capped drops 'common' from both sizes and intersections:
    # (1,2): inter=2 ('alpha','beta'), sizes 3,3 -> 2/4
    assert capped[(1, 2)] == 0.5
    assert exact[(1, 2)] == round(3 / 5, 6)
    # a cap above max df reproduces exact semantics
    loose = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in ngram_jaccard_pairs(df, n=1, threshold=0.3, max_df=100).collect()
    }
    assert loose == exact


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature store (dedup_store.py)
# ---------------------------------------------------------------------------


def _real_docs(spark):
    from albedo_spark.io import load_table

    return load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )


def test_incremental_equals_self_join(spark):
    """batch ∪ store pair-equivalence with minhash_lsh_pairs (VERDICT r5
    top ask): historical-internal pairs + incremental(batch) must equal
    the full-corpus self-join, with no overlap between the two sides."""
    from albedo_spark.operators.dedup_store import (
        build_signature_store,
        dedup_incremental,
    )

    docs = _real_docs(spark)
    hist = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")
    build_signature_store(hist, "sigstore_eq", num_buckets=8)
    try:
        nocap = 10**6
        full = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(docs, max_bucket=nocap).collect()
        }
        hist_pairs = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(hist, max_bucket=nocap).collect()
        }
        inc = {
            (r.id_a, r.id_b)
            for r in dedup_incremental(
                batch, "sigstore_eq", max_bucket=nocap
            ).collect()
        }
        assert full  # non-vacuous: the corpus has planted near-dups
        assert inc   # some pairs touch the batch
        assert hist_pairs | inc == full
        assert not (hist_pairs & inc)  # incremental emits only batch-touching pairs
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_eq")


def test_incremental_store_side_never_shuffles(spark):
    """The scale property the store exists for: joining a new batch's band
    rows against the store shuffles ONLY the batch (one Exchange on bkey,
    into the store's bucket layout); the store scan is bucket-aware with
    no Exchange above it."""
    from albedo_spark.operators.dedup_store import (
        build_signature_store,
        dedup_incremental,
        minhash_band_rows,
    )

    docs = _real_docs(spark)
    hist = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")
    build_signature_store(hist, "sigstore_plan", num_buckets=8)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        store = spark.table("sigstore_plan").withColumnRenamed("doc_id", "sid")
        j = minhash_band_rows(batch).join(store, "bkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # store scan reads its bucket layout...
        assert "Bucketed: true" in plan, plan
        # ...and the ONLY bkey exchange is the batch side entering that
        # layout (the batch's own upstream exchanges hash on doc_id).
        assert plan.count("Exchange hashpartitioning(bkey") == 1, plan
        # the full operator keeps the property: every store scan in it is
        # bucket-aware
        full_plan = (
            dedup_incremental(batch, "sigstore_plan")
            ._jdf.queryExecution().executedPlan().toString()
        )
        n_store_scans = full_plan.count("spark_catalog.default.sigstore_plan")
        assert n_store_scans >= 2  # sizes agg + cross join
        assert full_plan.count("Bucketed: true") == n_store_scans, full_plan
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS sigstore_plan")


def test_incremental_append_advances_history(spark):
    """Pipeline loop: after append_signatures(batch1), batch2 pairs
    against history INCLUDING batch1 — equivalence holds round after
    round."""
    from albedo_spark.operators.dedup_store import (
        append_signatures,
        build_signature_store,
        dedup_incremental,
    )

    docs = _real_docs(spark)
    hist = docs.where("doc_id % 3 = 0")
    b1 = docs.where("doc_id % 3 = 1")
    b2 = docs.where("doc_id % 3 = 2")
    build_signature_store(hist, "sigstore_app", num_buckets=8)
    try:
        nocap = 10**6
        inc1 = {
            (r.id_a, r.id_b)
            for r in dedup_incremental(b1, "sigstore_app", max_bucket=nocap).collect()
        }
        append_signatures(b1, "sigstore_app")
        inc2 = {
            (r.id_a, r.id_b)
            for r in dedup_incremental(b2, "sigstore_app", max_bucket=nocap).collect()
        }
        hist_pairs = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(hist, max_bucket=nocap).collect()
        }
        full = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(docs, max_bucket=nocap).collect()
        }
        assert hist_pairs | inc1 | inc2 == full
        assert not (inc1 & inc2)
    finally:
        spark.sql("DROP TABLE IF EXISTS sigstore_app")


def test_simhash_store_exact_within_pigeonhole_radius(spark):
    """With max_hamming <= num_bands - 1 the banded store has FULL
    recall (pigeonhole), so the incremental result must equal a
    brute-force Hamming scan over the fingerprints — batch-vs-history
    and batch-internal pairs alike; a normalized-identical twin pairs at
    hamming 0."""
    from albedo_spark.operators.dedup import simhash
    from albedo_spark.operators.dedup_store import (
        build_simhash_store,
        simhash_incremental,
    )

    docs = _real_docs(spark)
    hist = docs.where("doc_id % 4 != 0")
    batch = docs.where("doc_id % 4 = 0")
    build_simhash_store(hist, "simstore_eq", num_buckets=8)
    try:
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_incremental(
                batch, "simstore_eq", max_bucket=10**6
            ).collect()
        }
        sims = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", simhash(F.col("text"), 16).alias("sh")
            ).collect()
        }
        bids = {r.doc_id for r in batch.select("doc_id").collect()}
        expected = set()
        for a in sims:
            for b in sims:
                if a < b and (a in bids or b in bids):
                    h = bin(sims[a] ^ sims[b]).count("1")
                    if h <= 3:
                        expected.add((a, b, h))
        assert got == expected
        assert got  # non-vacuous: the corpus has near-identical twins
    finally:
        spark.sql("DROP TABLE IF EXISTS simstore_eq")


def test_simhash_store_side_never_shuffles(spark):
    """The store contract extends to the SimHash granularity: every scan
    of the banded store inside simhash_incremental is bucket-aware (no
    Exchange above it)."""
    from albedo_spark.operators.dedup_store import (
        build_simhash_store,
        simhash_incremental,
    )

    docs = _real_docs(spark)
    build_simhash_store(
        docs.where("doc_id % 4 != 0"), "simstore_plan", num_buckets=8
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            simhash_incremental(docs.where("doc_id % 4 = 0"), "simstore_plan")
            ._jdf.queryExecution().executedPlan().toString()
        )
        n_scans = plan.count("spark_catalog.default.simstore_plan")
        assert n_scans >= 2, plan  # sizes agg + cross join
        assert plan.count("Bucketed: true") == n_scans, plan
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS simstore_plan")


def _rung(name):
    """``(id_col, build, resolve, append)`` of one incremental store
    rung: the banded MinHash and SimHash stores over documents, the
    vector store over embeddings. ``build(rows, table, num_buckets=)``,
    ``resolve(batch, table, **kw)``, ``append(batch, table)``."""
    from albedo_spark.operators import dedup_store as ds
    from albedo_spark.operators import vector_store as vs

    if name == "minhash":
        return ("doc_id", ds.build_signature_store, ds.dedup_incremental,
                ds.append_signatures)
    if name == "simhash":
        return ("doc_id", ds.build_simhash_store, ds.simhash_incremental,
                ds.append_simhash)
    return (
        "vec_id",
        lambda c, t, num_buckets: vs.build_vector_store(
            c, t, dim=8, num_planes=4, num_buckets=num_buckets
        ),
        lambda b, t: vs.vector_incremental(
            b, t, threshold=0.9, dim=8, num_planes=4
        ),
        lambda b, t: vs.append_vectors(b, t, dim=8, num_planes=4),
    )


@pytest.mark.parametrize("rung", ["minhash", "simhash", "vector"])
def test_incremental_batches_leave_no_cache_entries(spark, rung):
    """The production loop (batch after batch in one session) must not
    accumulate executor storage: each incremental resolver materializes
    its batch side via lazy localCheckpoint (ContextCleaner-reaped),
    never via a CacheManager persist this lazy function could not
    unpersist. Three consecutive batches → the session CacheManager
    stays empty."""
    id_col, build, resolve, append = _rung(rung)
    if rung == "vector":
        rng = random.Random(7)
        rows = spark.createDataFrame(
            [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(200)],
            "vec_id long, embedding array<double>",
        )
    else:
        rows = _real_docs(spark)
    table = f"store_leak_{rung}"
    build(rows.where(f"{id_col} % 4 = 0"), table, num_buckets=8)
    # Earlier tests in the shared session may have live caches; start
    # from a clean slate so emptiness-after-batch is deterministic.
    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "precondition: no cached frames"
    try:
        for k in (1, 2, 3):
            batch = rows.where(f"{id_col} % 4 = {k}")
            resolve(batch, table).collect()
            append(batch, table)
            assert cache_mgr.isEmpty(), f"batch {k} left a cached frame"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize("rung", ["minhash", "simhash"])
def test_incremental_combined_bucket_cap(spark, rung):
    """max_bucket suppresses a key whose COMBINED (store + batch) size
    exceeds the cap, even when each side alone is under it — for both
    banded resolvers, which share one core."""
    _, build, resolve, _ = _rung(rung)

    # 4 identical docs: 2 historical, 2 in the batch -> every band key has
    # combined size 4
    rows = [(i, BASE) for i in range(1, 5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hist = docs.where("doc_id <= 2")
    batch = docs.where("doc_id > 2")
    table = f"store_cap_{rung}"
    build(hist, table, num_buckets=4)
    try:
        open_pairs = {
            (r.id_a, r.id_b)
            for r in resolve(batch, table, max_bucket=4).collect()
        }
        assert open_pairs == {(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
        capped = resolve(batch, table, max_bucket=3).count()
        assert capped == 0  # combined size 4 > 3 though each side is <= 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (C4 family)
# ---------------------------------------------------------------------------


def test_line_boilerplate_dedup_planted(spark):
    from albedo_spark.operators.dedup import line_boilerplate_dedup

    docs = spark.createDataFrame(
        [
            (1, "Home | About\nreal content one\nCopyright 2024"),
            (2, "HOME | ABOUT  \nunique stuff here\nCopyright 2024"),
            (3, "totally original\n\nalso original"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_lines, r.n_removed)
        for r in line_boilerplate_dedup(docs, min_df=2).collect()
    }
    # normalization: case/trim-insensitive matching removes both variants
    assert got[1] == ("real content one", 3, 2)
    assert got[2] == ("unique stuff here", 3, 2)
    # blank lines are structure: kept, never counted toward df
    assert got[3] == ("totally original\n\nalso original", 3, 0)
    # NULL text survives as an empty doc, not a dropped row
    assert got[4] == ("", 0, 0)


def test_remove_repeated_spans_planted(spark):
    """A 4-token span shared by two docs is removed from BOTH (symmetric,
    covering every token either marked window touches); unrelated docs,
    sub-span-length docs, and NULL text pass through."""
    from albedo_spark.operators.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta unique one"),
            (2, "start words ALPHA beta  gamma delta more"),
            (3, "totally different content here now"),
            (4, "tiny doc"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in remove_repeated_spans(docs, span_tokens=4, min_df=2).collect()
    }
    # normalization (lowercase, whitespace collapse) makes the doc-2
    # variant match; the marked window covers tokens 0-3 / 2-5
    assert got[1] == ("unique one", 6, 4)
    assert got[2] == ("start words more", 7, 4)
    assert got[3] == ("totally different content here now", 5, 0)
    assert got[4] == ("tiny doc", 2, 0)
    assert got[5] == ("", 0, 0)


def test_remove_repeated_spans_self_repeat_not_flagged(spark):
    """Distinct-document frequency: a doc repeating its OWN phrase never
    self-flags (intra-doc repetition is q67's domain)."""
    from albedo_spark.operators.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "one two three four one two three four"),
         (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in remove_repeated_spans(docs, span_tokens=4, min_df=2).collect()
    }
    assert got[1] == (8, 0)
    assert got[2] == (5, 0)


def test_remove_repeated_spans_overlap_union(spark):
    """Two overlapping marked windows union their cover — tokens are
    removed once, and the uncovered tail survives."""
    from albedo_spark.operators.dedup import remove_repeated_spans

    # 'a b c d e' shared as a 5-token run -> 4-token windows at 0 and 1
    # both mark; cover = tokens 0..4 in both docs
    docs = spark.createDataFrame(
        [(1, "a b c d e tail1"), (2, "a b c d e tail2")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_removed)
        for r in remove_repeated_spans(docs, span_tokens=4, min_df=2).collect()
    }
    assert got[1] == ("tail1", 5)
    assert got[2] == ("tail2", 5)


def test_line_boilerplate_dedup_idempotent(spark):
    """Survivor lines have df < min_df by construction, so a second
    application removes nothing (the property the docstring promises)."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.dedup import line_boilerplate_dedup

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(
                    F.lit(0), F.expr("(size(split(text, ' ')) - 1) div 3")
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split(F.col("text"), " "), i * 3 + 1, 3)
                ),
            ),
        ).alias("text"),
    )
    once = line_boilerplate_dedup(d, min_df=2)
    assert once.agg(F.sum("n_removed")).collect()[0][0] > 0  # non-vacuous
    twice = line_boilerplate_dedup(
        once.select("doc_id", "text"), min_df=2
    )
    assert twice.agg(F.sum("n_removed")).collect()[0][0] == 0
    # reconstruction: docs untouched by pass 1 keep their exact text
    j = d.alias("a").join(once.alias("b"), "doc_id").where("b.n_removed = 0")
    assert j.where("a.text != b.text").count() == 0


# ---------------------------------------------------------------------------
# Exact-digest incremental store
# ---------------------------------------------------------------------------


def test_exact_dedup_incremental(spark):
    from albedo_spark.operators.dedup_store import (
        append_digests,
        build_digest_store,
        exact_dedup_incremental,
    )

    hist = spark.createDataFrame(
        [(1, "alpha beta"), (2, "ALPHA   beta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    build_digest_store(hist, "digstore_t", num_buckets=4)
    try:
        batch = spark.createDataFrame(
            [
                (10, "alpha beta"),     # dup of historical keeper 1
                (11, "epsilon zeta"),   # novel keeper
                (12, "EPSILON zeta "),  # batch-internal dup of 11
                (13, None),             # NULL text: passes through
            ],
            "doc_id long, text string",
        )
        res = exact_dedup_incremental(batch, "digstore_t")
        got = {r.doc_id: (r.is_dup, r.keeper_id) for r in res.collect()}
        assert got[10] == (True, 1)
        assert got[11] == (False, None)
        assert got[12] == (True, 11)
        assert got[13] == (False, None)
        # append novel digests; a later batch dups against them
        append_digests(res, "digstore_t")
        batch2 = spark.createDataFrame(
            [(20, "epsilon ZETA")], "doc_id long, text string"
        )
        got2 = {
            r.doc_id: (r.is_dup, r.keeper_id)
            for r in exact_dedup_incremental(batch2, "digstore_t").collect()
        }
        assert got2[20] == (True, 11)
    finally:
        spark.sql("DROP TABLE IF EXISTS digstore_t")


def test_exact_dedup_incremental_store_no_shuffle(spark):
    from albedo_spark.operators.dedup_store import (
        build_digest_store,
        exact_dedup_incremental,
    )

    docs = _real_docs(spark)
    build_digest_store(docs.where("doc_id % 5 != 0"), "digstore_plan",
                       num_buckets=8)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = exact_dedup_incremental(
            docs.where("doc_id % 5 = 0"), "digstore_plan"
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("spark_catalog.default.digstore_plan")
        assert n_scans >= 1
        assert plan.count("Bucketed: true") == n_scans, plan
        assert res.count() == 100  # every batch row resolved
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS digstore_plan")


def test_near_dup_decontaminate_planted(spark):
    """A corpus doc that is a whitespace-reformatted copy of a probe is
    flagged; the probe's own corpus copy self-matches at 1.0; unrelated
    docs stay clean; disjoint id spaces are respected."""
    from albedo_spark.operators.dedup_store import near_dup_decontaminate

    bench = "the quick brown fox jumps over the lazy dog every single day"
    corpus = spark.createDataFrame(
        [
            (100, bench),                      # verbatim benchmark copy
            (101, bench.replace(" ", "  ")),   # reformatting leak
            (102, "completely different text about spark shuffles and joins here"),
            (103, None),                       # NULL text never flagged
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(7, bench)], "probe_id long, text string"
    )
    got = {
        (r.doc_id, r.probe_id): r.jaccard
        for r in near_dup_decontaminate(corpus, probes).collect()
    }
    assert set(got) == {(100, 7), (101, 7)}
    assert got[(100, 7)] == 1.0
    assert got[(101, 7)] == 1.0  # normalization collapses the whitespace


# ---------------------------------------------------------------------------
# prefix_filter_jaccard_pairs
# ---------------------------------------------------------------------------

def _shingle_set(text, n=3):
    """Replicates shingles_from_words: distinct word n-grams; texts shorter
    than n words yield one whole-text shingle."""
    ws = " ".join(text.lower().split()).split(" ")
    return {
        " ".join(ws[i : i + n]) for i in range(max(len(ws) - n, 0) + 1)
    }


def _brute_pairs(rows, num, den, n=3):
    out = {}
    sets = {i: _shingle_set(t, n) for i, t in rows}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * den >= num * union:
                out[(a, b)] = (inter * 10000) // union
    return out


def test_prefix_filter_equals_bruteforce(spark):
    from albedo_spark.operators.dedup import prefix_filter_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base + " tonight"),  # near dup
        (4, "the quick brown fox jumps over the lazy dog near the new river bank"),
        (5, "completely different text about spark query engines and shuffles today"),
        (6, "another unrelated document mentioning joins aggregates and scans"),
        (7, "short text"),
        (8, "short text"),  # whole-text shingle dup of 7
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard_x10k
        for r in prefix_filter_jaccard_pairs(
            df, threshold_num=7, threshold_den=10
        ).collect()
    }
    expect = _brute_pairs(rows, 7, 10)
    assert got == expect
    assert (1, 2) in got and (7, 8) in got  # the planted dups made it


def test_prefix_filter_threshold_boundary_is_integer_exact(spark):
    from albedo_spark.operators.dedup import prefix_filter_jaccard_pairs

    # two 1-word-shingle docs sharing exactly 7 of 10 distinct unigrams:
    # J = 7/10 exactly — the >= comparator must keep it (float '>=' on
    # 0.6999999 would drop it)
    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7 x1 x2"),
        (2, "w1 w2 w3 w4 w5 w6 w7 y1 y2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard_x10k
        for r in prefix_filter_jaccard_pairs(
            df, shingle_n=1, threshold_num=7, threshold_den=11
        ).collect()
    }
    # |A|=|B|=9, inter=7, union=11 -> J = 7/11 == threshold exactly
    assert got == {(1, 2): (7 * 10000) // 11}


def test_prefix_filter_length_boundary_pair_survives(spark):
    """The r16 length filter (d·min(|A|,|B|) ≥ n·max(|A|,|B|)) must keep a
    qualifying pair whose sizes sit EXACTLY at the boundary: A ⊂ B with
    |A| = 7, |B| = 10 gives J = 7/10 = τ and size ratio 7/10 = τ — both
    comparators are >=, so the pair survives; an off-by-one (strict >)
    would drop it."""
    from albedo_spark.operators.dedup import prefix_filter_jaccard_pairs

    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7"),
        (2, "w1 w2 w3 w4 w5 w6 w7 x1 x2 x3"),
        # size-incompatible near-miss: shares every prefix shingle with 2
        # but |C|=3 vs |B|=10 cannot reach J >= 0.7 (filter drops it, and
        # the brute answer agrees)
        (3, "w1 w2 w3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard_x10k
        for r in prefix_filter_jaccard_pairs(
            df, shingle_n=1, threshold_num=7, threshold_den=10
        ).collect()
    }
    assert got == _brute_pairs(rows, 7, 10, n=1)
    assert (1, 2) in got and got[(1, 2)] == 7000


def test_containment_pairs_detects_doc_in_doc(spark):
    """The case Jaccard misses: a short snippet inside a long article has
    tiny Jaccard but containment 1.0 — the snippet is flagged as the
    CONTAINED side (direction matters: drop the snippet, keep the
    container); the threshold is an exact integer rational; unrelated
    docs never pair."""
    from pyspark.sql import functions as F

    from albedo_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    article = " ".join(f"w{i} x{i} y{i}" for i in range(60))  # 180 words
    snippet = " ".join(f"w{i} x{i} y{i}" for i in range(4))  # 12-word prefix
    rows = [
        (1, article),
        (2, snippet),
        (3, "completely different tokens about other things entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.contained_id, r.container_id): r.cont_x10k
        for r in containment_pairs(df, n=3, threshold_num=9, threshold_den=10).collect()
    }
    assert got == {(2, 1): 10000}  # full containment, snippet->article only
    # and Jaccard at any useful threshold does NOT see the pair
    j = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert not [r for r in j if {r.id_a, r.id_b} == {1, 2}]


def test_containment_threshold_boundary_is_integer_exact(spark):
    """inter*den >= size*num at the exact boundary: 9 of 10 shingles
    shared with num/den = 9/10 is IN (not float >=-drift excluded)."""
    from albedo_spark.operators.dedup import containment_pairs

    # doc 2 has 10 distinct unigrams, 9 of which appear in doc 1
    d1 = "a b c d e f g h i zz1 zz2 zz3"
    d2 = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = {
        (r.contained_id, r.container_id): (r.inter, r.size_contained, r.cont_x10k)
        for r in containment_pairs(df, n=1, threshold_num=9, threshold_den=10).collect()
    }
    assert got == {(2, 1): (9, 10, 9000)}
    # one shingle fewer shared -> out
    df2 = spark.createDataFrame(
        [(1, d1), (2, "a b c d e f g h jj j")], "doc_id long, text string"
    )
    assert not containment_pairs(
        df2, n=1, threshold_num=9, threshold_den=10
    ).collect()


def test_containment_mutual_emits_both_directions(spark):
    from albedo_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    got = {
        (r.contained_id, r.container_id)
        for r in containment_pairs(df, n=1, threshold_num=1, threshold_den=1).collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_semantic_dedup_hand_example(spark):
    """SemDeDup on a hand-checkable 3-cell corpus (seeds at ids
    0/29/58, distinct axes): exact-ish copies inside a cell are dropped
    to the min-id keeper with correct dup_of/n_smaller_dups; id 7 lands
    in the y-axis cell (its quantized L2 argmin) and survives — its
    best in-cell cosine (~0.78 vs id 58) is under the 0.9 threshold —
    pinning both the cell assignment and the quantized
    squared-cosine test fires at values hand-computed in int64
    (e.g. id 60 vs 58: dot 9500, 9500^2*10^4 >= 8100*10^4*9986)."""
    from albedo_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (5, [0.98, 0.1, 0.0, 0.0]),   # ~cos 0.995 with id 0
        (6, [0.99, 0.05, 0.0, 0.0]),  # dup of 0 AND of 5
        (7, [0.6, 0.75, 0.0, 0.0]),   # cell 2; best in-cell cos ~0.78 -> kept
        (29, [0.0, 0.0, 1.0, 0.0]),
        (31, [0.0, 0.0, 0.99, 0.05]),
        (58, [0.0, 1.0, 0.0, 0.0]),
        (60, [0.0, 0.95, 0.31, 0.0]),  # cos ~0.95 with 58
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cluster_id, r.kept, r.dup_of, r.n_smaller_dups)
        for r in semantic_dedup(emb, k=3, rounds=2, stride=29).collect()
    }
    assert got == {
        0: (0, True, -1, 0),
        5: (0, False, 0, 1),
        6: (0, False, 0, 2),
        7: (2, True, -1, 0),
        29: (1, True, -1, 0),
        31: (1, False, 29, 1),
        58: (2, True, -1, 0),
        60: (2, False, 58, 1),
    }


def test_semantic_dedup_pair_salt_equivalence(spark):
    """The salted cell self-join (pair_salt > 1 — the r15 parallelism
    balance: replicate left s ways, slice right by vec_id % s) is a
    pure execution-shape change: every salt width must produce
    byte-identical output to the unsalted join, including the
    n_smaller_dups counts (each (l, r) pair lands in exactly ONE salt
    slice — r's — so nothing double-counts)."""
    from albedo_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (5, [0.98, 0.1, 0.0, 0.0]),
        (6, [0.99, 0.05, 0.0, 0.0]),
        (7, [0.6, 0.75, 0.0, 0.0]),
        (29, [0.0, 0.0, 1.0, 0.0]),
        (31, [0.0, 0.0, 0.99, 0.05]),
        (58, [0.0, 1.0, 0.0, 0.0]),
        (60, [0.0, 0.95, 0.31, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = sorted(
        semantic_dedup(emb, k=3, rounds=2, stride=29, pair_salt=1).collect()
    )
    for s in (2, 7, 16):
        got = sorted(
            semantic_dedup(emb, k=3, rounds=2, stride=29, pair_salt=s).collect()
        )
        assert got == base, f"pair_salt={s} changed the result"


def test_semantic_dedup_norm_tripwire(spark):
    """A vector past the int64 threshold-test headroom raises instead
    of wrapping identically in both engines."""
    import pytest as _pytest

    from albedo_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [40.0] * 64), (29, [1.0] * 64), (58, [0.5] * 64)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="headroom"):
        semantic_dedup(emb, k=3, rounds=1, stride=29).collect()


# ---------------------------------------------------------------------------
# URL store: the crawl front-door rung of the incremental family (r15)
# ---------------------------------------------------------------------------


def test_url_store_incremental(spark):
    """The exact_dedup_incremental contract at URL granularity: a
    canonical URL in the store dups against the HISTORICAL keeper,
    batch-internal re-fetches against the batch's min-id keeper,
    NULL urls pass through, and appended novels block the next batch."""
    from albedo_spark.operators.dedup_store import (
        append_urls,
        build_url_store,
        url_dedup_incremental,
    )

    hist = spark.createDataFrame(
        [
            (1, "http://a.com/x?utm_source=feed"),
            (2, "HTTP://A.COM:80/x"),          # same canonical as 1
            (3, "https://b.com/y/"),
        ],
        "doc_id long, url string",
    )
    build_url_store(hist, "urlstore_t", num_buckets=4)
    try:
        batch = spark.createDataFrame(
            [
                (10, "http://a.com/x#frag"),    # dup of historical keeper 1
                (11, "http://c.com/new"),       # novel keeper
                (12, "HTTP://WWW.c.com/new"),   # NOT a dup: www is canonical-distinct
                (13, "http://C.COM/new/"),      # batch-internal dup of 11
                (14, None),                     # NULL url: passes through
            ],
            "doc_id long, url string",
        )
        res = url_dedup_incremental(batch, "urlstore_t")
        got = {r.doc_id: (r.is_dup, r.keeper_id) for r in res.collect()}
        assert got[10] == (True, 1)
        assert got[11] == (False, None)
        assert got[12] == (False, None)
        assert got[13] == (True, 11)
        assert got[14] == (False, None)
        # append novel canonical URLs; a later batch dups against them
        append_urls(res, "urlstore_t")
        batch2 = spark.createDataFrame(
            [(20, "http://c.com/new?fbclid=zz"), (21, "http://a.com/x")],
            "doc_id long, url string",
        )
        got2 = {
            r.doc_id: (r.is_dup, r.keeper_id)
            for r in url_dedup_incremental(batch2, "urlstore_t").collect()
        }
        assert got2[20] == (True, 11)
        assert got2[21] == (True, 1)
    finally:
        spark.sql("DROP TABLE IF EXISTS urlstore_t")


def test_url_store_side_never_shuffles(spark):
    """The store side joins on its bucket column with ZERO store-side
    Exchange — only the batch shuffles, into the store's layout (the
    digest-store plan contract at the URL rung)."""
    from albedo_spark.operators.dedup_store import (
        build_url_store,
        url_dedup_incremental,
    )
    from pyspark.sql import functions as F

    docs = _real_docs(spark).withColumn(
        "url",
        F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".com/p/"), (F.col("doc_id") % 13).cast("string")),
    )
    build_url_store(docs.where("doc_id % 5 != 0"), "urlstore_plan",
                    num_buckets=8)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = url_dedup_incremental(
            docs.where("doc_id % 5 = 0"), "urlstore_plan"
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("spark_catalog.default.urlstore_plan")
        assert n_scans >= 1
        assert plan.count("Bucketed: true") == n_scans, plan
        assert res.count() == 100  # every batch row resolved
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS urlstore_plan")


def test_url_store_two_batch_equals_batch_dedup(spark):
    """Incremental across a two-batch split keeps EXACTLY the rows the
    one-shot batch url_dedup keeps, when ids respect arrival order
    (hist < b1 < b2 — a crawl's natural monotone ids): the store
    keeper IS the global min-id keeper at every step."""
    from albedo_spark.operators.dedup import url_dedup
    from albedo_spark.operators.dedup_store import (
        append_urls,
        build_url_store,
        url_dedup_incremental,
    )
    from pyspark.sql import functions as F

    docs = _real_docs(spark).withColumn(
        "url",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("http://h"), (F.col("doc_id") % 5).cast("string"),
                F.lit(".com/p/"), (F.col("doc_id") % 17).cast("string"),
                F.lit("?utm_source=x"),
            )
        ),
    ).select("doc_id", "url")
    hist = docs.where("doc_id < 200")
    b1 = docs.where("doc_id >= 200 AND doc_id < 350")
    b2 = docs.where("doc_id >= 350")
    build_url_store(hist, "urlstore_eq", num_buckets=4)
    try:
        r1 = url_dedup_incremental(b1, "urlstore_eq")
        append_urls(r1, "urlstore_eq")
        r2 = url_dedup_incremental(b2, "urlstore_eq")
        inc_kept = {
            r.doc_id
            for r in r1.unionByName(r2).where("NOT is_dup").collect()
        }
        batch_kept = {
            r.doc_id
            for r in url_dedup(docs).collect()
            if r.doc_id >= 200
        }
        assert inc_kept == batch_kept
    finally:
        spark.sql("DROP TABLE IF EXISTS urlstore_eq")


def test_crawl_frontier_store_side_never_shuffles(spark):
    """The frontier anti-join keeps the URL store's bucket discipline:
    candidates anti-join BEFORE aggregating, so the probe shuffles
    into the store's layout and the store scan stays bucketed with
    zero store-side Exchange (aggregating first was measured to cost
    the store its bucketed read entirely)."""
    from pyspark.sql import functions as F

    from albedo_spark.operators.dedup_store import build_url_store
    from albedo_spark.operators.extraction import crawl_frontier

    docs = _real_docs(spark).select(
        "doc_id",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/p/"), (F.col("doc_id") % 13).cast("string"),
        ).alias("url"),
        F.concat(
            F.lit('<p><a href="http://x'),
            (F.col("doc_id") % 3).cast("string"),
            F.lit('.com/q">link</a></p>'),
        ).alias("html"),
    )
    build_url_store(docs, "frontier_plan_store", num_buckets=8)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = crawl_frontier(docs, "frontier_plan_store")
        plan = res._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("spark_catalog.default.frontier_plan_store")
        assert n_scans >= 1
        assert plan.count("Bucketed: true") == n_scans, plan
        assert res.count() == 3  # the x{0,1,2}.com targets
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS frontier_plan_store")
