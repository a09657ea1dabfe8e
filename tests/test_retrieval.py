"""BM25 (operators/retrieval.py): exact BIGINT replay on a hand-sized
corpus, unseen-term behavior, and the broadcast-query plan shape."""

from albedo_spark.operators.retrieval import bm25_search

DOCS = [
    (1, "fast hash join beats sort merge join"),
    (2, "slow table scan and slow merge"),
    (3, "fast fast fast hash"),
    (4, "window sort merge window sort"),
    (5, "join the window stream"),
]
QS = [("q1", "fast join"), ("q2", "sort window"), ("q3", "scan")]


def _replay(docs, queries, top_k):
    """Pure-Python BM25 with the SAME integer chain (k1=6/5, b=3/4,
    log-free rational idf); integer arithmetic makes equality exact."""
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    for i, t in docs:
        ws = t.lower().split()
        dl[i] = len(ws)
        for w in ws:
            tf[(i, w)] = tf.get((i, w), 0) + 1
    n = len(dl)
    avgdl = (100 * sum(dl.values())) // n
    df: dict[str, int] = {}
    for _, w in tf:
        df[w] = df.get(w, 0) + 1
    out = {}
    for qid, qt in queries:
        scores: dict[int, int] = {}
        for w in dict.fromkeys(qt.split()):
            if w not in df:
                continue
            idf = (10000 * (2 * n - 2 * df[w] + 1)) // (2 * df[w] + 1)
            for i in dl:
                if (i, w) in tf:
                    t_ = tf[(i, w)]
                    tfp = (10000 * 22 * t_ * avgdl) // (
                        10 * t_ * avgdl + 3 * avgdl + 900 * dl[i]
                    )
                    scores[i] = scores.get(i, 0) + (idf * tfp) // 10000
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        out[qid] = [(i, s) for i, s in ranked]
    return out


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_exact_integer_replay(spark):
    got: dict[str, list] = {}
    rows = bm25_search(spark, _docs_df(spark), QS, top_k=3).collect()
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.doc_id, r.bm25_x10k))
    assert got == _replay(DOCS, QS, 3)


def test_bm25_rank_is_dense_and_tiebroken(spark):
    rows = bm25_search(spark, _docs_df(spark), QS, top_k=5).collect()
    by_q: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        # ordered by (score desc, doc_id asc) — a strict total order
        keys = [(-r.bm25_x10k, r.doc_id) for r in rs]
        assert keys == sorted(keys)


def test_bm25_unseen_terms(spark):
    # one term unseen → scored from the seen term only; all-unseen → no rows
    rows = bm25_search(
        spark,
        _docs_df(spark),
        [("mix", "join zzzz"), ("none", "xxxx yyyy")],
        top_k=5,
    ).collect()
    qids = {r.query_id for r in rows}
    assert "mix" in qids and "none" not in qids
    mix_docs = {r.doc_id for r in rows if r.query_id == "mix"}
    assert mix_docs == {1, 5}  # exactly the docs containing 'join'


def test_bm25_plan_broadcasts_queries_and_stays_jvm(spark):
    df = bm25_search(spark, _docs_df(spark), QS, top_k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rrf_fuse_hand_computed(spark):
    """Fusion arithmetic pinned against hand math: contribution is the
    exact BIGINT 10^6 div (60 + rank); a doc in both legs sums both,
    a doc in one leg contributes once (n_legs records which)."""
    from albedo_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 20, 2), ("q1", 30, 3)],
        "query_id string, doc_id long, rank int",
    )
    den = spark.createDataFrame(
        [("q1", 20, 1), ("q1", 40, 2)],
        "query_id string, doc_id long, rank int",
    )
    got = {
        r.doc_id: (r.n_legs, r.rrf_x1e6, r.rank)
        for r in rrf_fuse([lex, den], top_k=10).collect()
    }
    c = lambda rank: 1000000 // (60 + rank)  # noqa: E731
    assert got[20] == (2, c(2) + c(1), 1)  # both legs -> top fused
    assert got[10] == (1, c(1), 2)
    assert got[40] == (1, c(2), 3)
    assert got[30] == (1, c(3), 4)


def test_rrf_fuse_tie_breaks_on_doc_id(spark):
    from albedo_spark.operators.retrieval import rrf_fuse

    leg = spark.createDataFrame(
        [("q1", 7, 1), ("q1", 3, 1)],  # impossible in one real leg, but
        "query_id string, doc_id long, rank int",  # ties must order by id
    )
    rows = rrf_fuse([leg], top_k=2).collect()
    assert [r.doc_id for r in sorted(rows, key=lambda r: r.rank)] == [3, 7]


def test_phrase_match_planted_and_overlapping(spark):
    """phrase_match (q157's operator): hand-planted occurrences — counts,
    0-based first positions, OVERLAPPING matches all counted, and a
    phrase absent from a doc yields no row for that pair."""
    from pyspark.sql import functions as F

    from albedo_spark.operators.retrieval import phrase_match

    docs = spark.createDataFrame(
        [
            (1, "red fox red fox jumps"),
            (2, "a a a"),          # overlapping "a a": positions 0 and 1
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(0, ["red", "fox"]), (1, ["a", "a"]), (2, ["fox", "jumps"]),
         (3, ["red", "fox", "jumps"])],
        "phrase_id long, pt array<string>",
    )
    out = {
        (r.doc_id, r.phrase_id): (r.n_occurrences, r.first_pos)
        for r in phrase_match(docs, phrases).collect()
    }
    assert out == {
        (1, 0): (2, 0),   # "red fox" at 0 and 2
        (1, 2): (1, 3),   # "fox jumps" at 3
        (1, 3): (1, 2),   # trigram at 2
        (2, 1): (2, 0),   # overlapping "a a"
    }


def test_bm25_store_matches_inflight_and_never_shuffles(spark):
    """Persisted BM25 index (q160's lexical store): (a) probing the
    store reproduces bm25_search's scores/ranks EXACTLY on the same
    corpus and queries (the denormalized (tf, dl, df) rows + frozen
    stats are the same integers the in-flight path derives), and (b)
    the store side of the probe plan has ZERO Exchange — the posting
    table is bucketed on the term and query terms ride a broadcast."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        bm25_search,
        bm25_store_search,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    queries = [("alpha", "fast hash join"), ("beta", "slow table scan")]
    tbl = "t_bm25_store"
    try:
        build_bm25_store(d, tbl)
        qdf = spark.createDataFrame(queries, "query_id string, text string")
        got = bm25_store_search(qdf, tbl, top_k=5)

        plan = got._jdf.queryExecution().executedPlan().toString()
        # zero store-side Exchange: query terms ride a BroadcastExchange
        # into the bucketed posting scan, so every hash Exchange left in
        # the plan is a post-join aggregate/window keyed by query_id —
        # a shuffle on the bare posting columns (w / doc_id without
        # query_id) would mean the store itself moved
        assert f"default.{tbl}" in plan
        assert "BroadcastHashJoin" in plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "query_id" in line, f"store side shuffled: {line}"

        ref = bm25_search(spark, d, queries, top_k=5)
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in ref.collect()
        }
    finally:
        for suf in ("", "_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_corpus_phrase_dictionary_two_token_docs(spark):
    """Regression: a doc with exactly 2 tokens must contribute its one
    bigram and simply produce NO trigrams — not crash. Before the per-n
    length filter, sequence(0, size(w)-3) descended to [0, -1] for such
    docs and slice(w, 0, 3) threw INVALID_PARAMETER_VALUE.START; the SQL
    oracle's range() yields empty rows for the same doc, so the engines
    diverged (crash vs results) on legitimate corpora."""
    from albedo_spark.operators.retrieval import corpus_phrase_dictionary

    docs = spark.createDataFrame(
        [
            (1, "exactly two"),                 # the crashing shape
            (2, "three token doc"),
            (3, "one"),                         # dropped by the >=2 gate
            (4, "exactly two exactly two ok"),
        ],
        "doc_id long, text string",
    )
    rows = corpus_phrase_dictionary(docs, bigrams=4, trigrams=4).collect()
    got = {(r.phrase_id, tuple(r.pt)) for r in rows}
    # bigram ids 0.., trigram ids 100..; "exactly two" counted 3x total
    assert (0, ("exactly", "two")) in got
    assert any(pid >= 100 and len(pt) == 3 for pid, pt in got)
    assert all(len(pt) == 3 for pid, pt in got if pid >= 100)
    assert all(len(pt) == 2 for pid, pt in got if pid < 100)


def test_phrase_match_plan_has_no_regex_or_cross(spark):
    """The matcher must stay a broadcast posting join + one doc_id
    shuffle: no cartesian product, no Python, and the phrase side rides
    a BroadcastExchange."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        corpus_phrase_dictionary,
        phrase_match,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = phrase_match(d, corpus_phrase_dictionary(d))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "BroadcastExchange" in plan


def test_phrase_match_rarest_keying_equivalence(spark):
    """key='rarest' must return IDENTICAL matches to key='first' on the
    same corpus + dictionary (the keying only moves candidate-set size),
    including phrases whose rarest token is mid-phrase and phrases
    containing corpus-unseen tokens."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        corpus_phrase_dictionary,
        phrase_match,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    phrases = corpus_phrase_dictionary(d, bigrams=8, trigrams=4)
    a = {tuple(r) for r in phrase_match(d, phrases, key="first").collect()}
    b = {tuple(r) for r in phrase_match(d, phrases, key="rarest").collect()}
    assert a == b and a

    docs = spark.createDataFrame(
        [(1, "the rare word the common the")], "doc_id long, text string"
    )
    ph = spark.createDataFrame(
        [(0, ["the", "rare"]), (1, ["the", "unseen_tok"]),
         (2, ["unseen_a", "unseen_b"])],
        "phrase_id long, pt array<string>",
    )
    fa = {tuple(r) for r in phrase_match(docs, ph, key="first").collect()}
    fb = {tuple(r) for r in phrase_match(docs, ph, key="rarest").collect()}
    assert fa == fb == {(1, 0, 1, 0)}

    import pytest
    with pytest.raises(ValueError):
        phrase_match(docs, ph, key="nope")


def test_bm25_store_allow_filter(spark):
    """q164's PRE-filter contract on the lexical store: allow = ALL
    stored ids is byte-identical to the unfiltered probe; a selective
    slice returns only allowed docs with dense per-query survivor ranks
    and UNCHANGED corpus-level idf/avgdl (frozen stats — the slice
    narrows candidates, not the model)."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        bm25_store_search,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    qdf = spark.createDataFrame(
        [("alpha", "fast hash join"), ("beta", "slow table scan")],
        "query_id string, text string",
    )
    tbl = "t_bm25_allow"
    try:
        build_bm25_store(d, tbl)
        plain = bm25_store_search(qdf, tbl, top_k=5)
        same = bm25_store_search(
            qdf, tbl, top_k=5, allow=d.select("doc_id")
        )
        assert {tuple(r) for r in plain.collect()} == {
            tuple(r) for r in same.collect()
        }
        filt = bm25_store_search(
            qdf, tbl, top_k=5,
            allow=d.where("doc_id % 2 = 0").select("doc_id"),
        ).collect()
        assert filt and all(r.doc_id % 2 == 0 for r in filt)
        # frozen stats: a surviving (query, doc) pair scores IDENTICALLY
        # to its unfiltered twin — only the candidate set changed
        plain_scores = {
            (r.query_id, r.doc_id): r.bm25_x10k for r in plain.collect()
        }
        for r in filt:
            if (r.query_id, r.doc_id) in plain_scores:
                assert plain_scores[(r.query_id, r.doc_id)] == r.bm25_x10k
    finally:
        for suf in ("", "_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_bm25_prf_expansion_behavior(spark):
    """PRF on a hand corpus: querying 'apple' retrieves the apple docs,
    whose co-occurring term 'orchard' becomes an expansion term, which
    pulls in the orchard-only doc that plain BM25 can never return (no
    query-term overlap) — the RM3 signature. Determinism: weights are
    integers inside the BIGINT sum; ranks dense."""
    from albedo_spark.operators.retrieval import (
        bm25_store_prf_search,
        bm25_store_search,
        build_bm25_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple orchard harvest"),
            (2, "apple orchard pruning"),
            (3, "apple pie recipe"),
            (4, "orchard soil care"),        # no 'apple' — unreachable
            (5, "database index scan"),      # unrelated
        ],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame([("q1", "apple")], "query_id string, text string")
    tbl = "t_bm25_prf"
    try:
        build_bm25_store(docs, tbl)
        plain = {r.doc_id for r in bm25_store_search(qdf, tbl, top_k=5).collect()}
        assert 4 not in plain  # no term overlap -> unreachable
        prf = bm25_store_prf_search(
            qdf, tbl, top_k=5, fb_docs=2, fb_terms=2, orig_weight=2
        ).collect()
        got = {r.doc_id for r in prf}
        assert 4 in got  # 'orchard' expansion reached it
        assert sorted(r.rank for r in prf) == list(range(1, len(prf) + 1))
    finally:
        for suf in ("", "_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_bm25_forward_index_prf_equivalence(spark):
    """forward=True persists the doc_id-bucketed {table}_fwd companion
    with the SAME rows as the postings, and PRF routed through it is
    byte-identical to the posting-scan fallback (the q110 equivalence
    discipline: the companion is an access path, never a semantic)."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        bm25_store_prf_search,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    qdf = spark.createDataFrame(
        [("alpha", "fast hash join"), ("beta", "slow table scan")],
        "query_id string, text string",
    )
    t_plain, t_fwd = "t_bm25_nofwd", "t_bm25_fwd"
    try:
        build_bm25_store(d, t_plain)
        build_bm25_store(d, t_fwd, forward=True)
        assert spark.catalog.tableExists(t_fwd + "_fwd")
        assert not spark.catalog.tableExists(t_plain + "_fwd")
        # same rows in both companions of the forward store
        assert (
            spark.table(t_fwd).orderBy("w", "doc_id").collect()
            == spark.table(t_fwd + "_fwd").orderBy("w", "doc_id").collect()
        )
        a = bm25_store_prf_search(qdf, t_plain, top_k=5, fb_docs=2, fb_terms=3)
        b = bm25_store_prf_search(qdf, t_fwd, top_k=5, fb_docs=2, fb_terms=3)
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
        # A rebuild WITHOUT forward must drop a pre-existing companion:
        # PRF auto-prefers {table}_fwd, so an orphan from the earlier
        # forward=True build would feed it stale feedback rows.
        build_bm25_store(d.limit(60), t_fwd)
        assert not spark.catalog.tableExists(t_fwd + "_fwd")
        c = bm25_store_prf_search(qdf, t_fwd, top_k=5, fb_docs=2, fb_terms=3)
        build_bm25_store(d.limit(60), t_plain, forward=True)
        e = bm25_store_prf_search(qdf, t_plain, top_k=5, fb_docs=2, fb_terms=3)
        assert {tuple(r) for r in c.collect()} == {tuple(r) for r in e.collect()}
    finally:
        for t in (t_plain, t_fwd):
            for suf in ("", "_stats", "_fwd"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_prf_string_doc_ids(spark):
    """ADVICE r13 #3: build_bm25_store accepts any id_col type, so the
    literal-isin fetch path must not hardcode the doc_id type — a
    string-id forward store has to serve PRF on BOTH routes with
    identical results (before the fix the small-query literal path blew
    up in createDataFrame while the lazy-join path worked, so behavior
    depended on the route probe)."""
    from albedo_spark.operators.retrieval import (
        bm25_store_prf_search,
        build_bm25_store,
    )

    docs = spark.createDataFrame(
        [
            ("d-1", "apple orchard harvest"),
            ("d-2", "apple orchard pruning"),
            ("d-3", "apple pie recipe"),
            ("d-4", "orchard soil care"),
            ("d-5", "database index scan"),
        ],
        "doc_id string, text string",
    )
    qdf = spark.createDataFrame([("q1", "apple")], "query_id string, text string")
    # distinct prefixes: "{t_plain}_fwd" must not collide with t_fwd
    # (build_bm25_store(forward=False) drops its own companion name)
    t_fwd, t_plain = "t_bm25_strid_a", "t_bm25_strid_b"
    try:
        build_bm25_store(docs, t_fwd, forward=True)   # literal route
        build_bm25_store(docs, t_plain)               # lazy-join route
        a = bm25_store_prf_search(qdf, t_fwd, top_k=5, fb_docs=2, fb_terms=2)
        b = bm25_store_prf_search(qdf, t_plain, top_k=5, fb_docs=2, fb_terms=2)
        rows_a = sorted(tuple(r) for r in a.collect())
        assert rows_a == sorted(tuple(r) for r in b.collect())
        assert "d-4" in {r[1] for r in rows_a}  # expansion still works
    finally:
        for t in (t_fwd, t_plain):
            for suf in ("", "_stats", "_fwd"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def _bm25_probe_set(spark):
    return spark.createDataFrame(
        [("alpha", "fast hash join"), ("beta", "slow table scan"),
         ("gamma", "vector index probe")],
        "query_id string, text string",
    )


def test_bm25_append_rebuild_equivalence(spark):
    """The append contract (VERDICT r12 ask #2): build on half the
    corpus + append the other half must serve BYTE-IDENTICAL results to
    a from-scratch rebuild over everything — plain search, PRF (through
    the forward companion, which the append must also advance), and the
    filtered (allow) path with its corpus-level idf. A replayed append
    admits nothing and changes nothing."""
    from pyspark.sql import functions as F

    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        bm25_store_prf_search,
        bm25_store_search,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    qdf = _bm25_probe_set(spark)
    allow = d.where("doc_id % 3 = 0").select("doc_id")
    t_full, t_inc = "t_bm25_eq_full", "t_bm25_eq_inc"
    try:
        build_bm25_store(d, t_full, forward=True)
        build_bm25_store(d.where("doc_id % 2 = 0"), t_inc, forward=True)
        out = append_bm25_postings(d.where("doc_id % 2 = 1"), t_inc)
        assert out["admitted"] > 0 and out["generation"] == 1
        assert spark.table(t_inc + "_stats").count() == 2
        # same posting rows in the forward companion after the append
        assert (
            spark.table(t_inc).count()
            == spark.table(t_inc + "_fwd").count()
            == spark.table(t_full).count()
        )

        def got(fn, tbl, **kw):
            return sorted(tuple(r) for r in fn(qdf, tbl, **kw).collect())

        assert got(bm25_store_search, t_full, top_k=5) == got(
            bm25_store_search, t_inc, top_k=5
        )
        assert got(
            bm25_store_prf_search, t_full, top_k=5, fb_docs=2, fb_terms=3
        ) == got(bm25_store_prf_search, t_inc, top_k=5, fb_docs=2, fb_terms=3)
        assert got(bm25_store_search, t_full, top_k=5, allow=allow) == got(
            bm25_store_search, t_inc, top_k=5, allow=allow
        )
        # replay: nothing admitted, nothing written, and the crash-repair
        # sweep on the admitted-0 path reports a consistent store
        n_rows = spark.table(t_inc).count()
        replay = append_bm25_postings(d.where("doc_id % 2 = 1"), t_inc)
        assert replay["admitted"] == 0 and replay["generation"] is None
        assert replay["repair"] == {
            "repaired": False, "stats_row": None, "fwd_rows": 0,
        }
        assert spark.table(t_inc).count() == n_rows
        assert spark.table(t_inc + "_stats").count() == 2
    finally:
        for t in (t_full, t_inc):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_append_bloom_sidecar_equivalence(spark):
    """With a ``{table}_bloom`` sidecar the append admits the identical
    set (the admit_novel contract extended to the lexical store), the
    sidecar advances in lockstep, and a replay admits nothing without
    ever scanning past the bloom's definite-novel split."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.dedup_store import build_bloom_sidecar
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        bm25_store_search,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(160)
    qdf = _bm25_probe_set(spark)
    t_b, t_nb = "t_bm25_bloom", "t_bm25_nobloom"
    try:
        for t in (t_b, t_nb):
            build_bm25_store(d.where("doc_id % 2 = 0"), t)
        build_bloom_sidecar(spark, t_b, t_b + "_bloom", key_col="doc_id")
        out_b = append_bm25_postings(d.where("doc_id % 2 = 1"), t_b)
        out_nb = append_bm25_postings(d.where("doc_id % 2 = 1"), t_nb)
        assert out_b == out_nb and out_b["admitted"] > 0
        assert sorted(
            tuple(r) for r in bm25_store_search(qdf, t_b, top_k=5).collect()
        ) == sorted(
            tuple(r) for r in bm25_store_search(qdf, t_nb, top_k=5).collect()
        )
        # sidecar advanced: one generation per append
        assert spark.table(t_b + "_bloom").count() == 2
        replay = append_bm25_postings(d.where("doc_id % 2 = 1"), t_b)
        assert replay["admitted"] == 0
    finally:
        for t in (t_b, t_nb):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_compact_store(spark):
    """compact_bm25_store folds a multi-generation store to one
    generation — stats merge to a single row, df is refreshed per row,
    the forward companion is rewritten — with search and PRF results
    unchanged, and the compacted store equals a from-scratch rebuild
    row-for-row."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        bm25_store_prf_search,
        bm25_store_search,
        build_bm25_store,
        compact_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(150)
    qdf = _bm25_probe_set(spark)
    tbl, ref = "t_bm25_compact", "t_bm25_compact_ref"
    try:
        build_bm25_store(d.where("doc_id % 3 = 0"), tbl, forward=True)
        append_bm25_postings(d.where("doc_id % 3 = 1"), tbl)
        append_bm25_postings(d.where("doc_id % 3 = 2"), tbl)
        assert spark.table(tbl + "_stats").count() == 3
        before_s = sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        )
        before_p = sorted(
            tuple(r)
            for r in bm25_store_prf_search(
                qdf, tbl, top_k=5, fb_docs=2, fb_terms=3
            ).collect()
        )
        res = compact_bm25_store(spark, tbl)
        assert res["n_docs"] == spark.table(tbl).select("doc_id").distinct().count()
        assert spark.table(tbl + "_stats").count() == 1
        assert sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        ) == before_s
        assert sorted(
            tuple(r)
            for r in bm25_store_prf_search(
                qdf, tbl, top_k=5, fb_docs=2, fb_terms=3
            ).collect()
        ) == before_p
        # row-for-row identical to a rebuild (df fold is exact)
        build_bm25_store(d, ref, forward=True)
        assert sorted(
            tuple(r) for r in spark.table(tbl).collect()
        ) == sorted(tuple(r) for r in spark.table(ref).collect())
        assert (
            spark.table(tbl + "_stats").select(
                "n_docs", "dl_total", "avgdl_x100"
            ).first()
            == spark.table(ref + "_stats").select(
                "n_docs", "dl_total", "avgdl_x100"
            ).first()
        )
    finally:
        for t in (tbl, ref):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_compact_crash_adoption(spark):
    """VERDICT r13 #5: compact_bm25_store uses compact_table's
    pid-suffixed private-copy discipline across all three store members.
    A crash between a member's DROP and RENAME strands the compacted
    data under the private name with the published name gone; the next
    compact call must ADOPT it back (no data loss), and private copies
    alongside live published names are debris and are dropped."""
    from albedo_spark.io import load_table, write_bucketed
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        audit_bm25_store,
        bm25_store_search,
        build_bm25_store,
        compact_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    qdf = _bm25_probe_set(spark)
    tbl = "t_bm25_adopt"
    try:
        build_bm25_store(d.where("doc_id % 2 = 0"), tbl, forward=True)
        append_bm25_postings(d.where("doc_id % 2 = 1"), tbl)
        want = sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        )
        # Simulate the worst crash window: every member fully compacted
        # into the private copies, ALL published names dropped, no RENAME
        # ran (a real crash strands a prefix of the publish sequence;
        # all-three is a superset of every window).
        post = spark.table(tbl)
        from pyspark.sql import functions as F

        dfreq = post.groupBy("w").agg(F.count("*").alias("df"))
        rows = post.drop("df").join(dfreq, "w").select(
            "w", "doc_id", "tf", "dl", "df"
        ).localCheckpoint()
        merged = spark.table(tbl + "_stats").agg(
            F.sum("n_docs").alias("n"), F.sum("dl_total").alias("t")
        ).first()
        write_bucketed(rows, f"{tbl}__c999", "w", num_buckets=16)
        write_bucketed(rows, f"{tbl}__c999_fwd", "doc_id", num_buckets=16)
        spark.createDataFrame(
            [(0, int(merged["n"]), int(merged["t"]),
              (100 * int(merged["t"])) // int(merged["n"]))],
            "gen long, n_docs bigint, dl_total bigint, avgdl_x100 bigint",
        ).write.mode("overwrite").format("parquet").saveAsTable(
            f"{tbl}__c999_stats"
        )
        for suf in ("", "_fwd", "_stats"):
            spark.sql(f"DROP TABLE `{tbl}{suf}`")
        assert not spark.catalog.tableExists(tbl)

        res = compact_bm25_store(spark, tbl)
        assert sorted(res["adopted"]) == [
            f"{tbl}__c999", f"{tbl}__c999_fwd", f"{tbl}__c999_stats",
        ]
        assert sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        ) == want
        assert audit_bm25_store(spark, tbl)["ok"]
        assert spark.table(tbl + "_stats").count() == 1
        for suf in ("", "_fwd", "_stats"):
            assert not spark.catalog.tableExists(f"{tbl}__c999{suf}")

        # Debris: a stale private member while every published name is
        # alive must be dropped, adopted None.
        write_bucketed(rows, f"{tbl}__c123", "w", num_buckets=16)
        res2 = compact_bm25_store(spark, tbl)
        assert res2["adopted"] is None
        assert not spark.catalog.tableExists(f"{tbl}__c123")
        assert sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        ) == want
    finally:
        for t in (tbl, f"{tbl}__c999", f"{tbl}__c123"):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_append_crash_repair(spark):
    """ADVICE r13 #1: the append writes posting rows BEFORE the
    generation's stats row, so a crash in between leaves an orphan
    generation the replay guard would otherwise make permanent
    (postings counted, scalars not — multi-gen search silently diverges
    from a rebuild). The replay of the crashed batch must repair it:
    reconstruct the missing stats row with the exact values the
    completed append would have written, re-mirror missing forward
    rows, and leave search byte-identical to an uncrashed store."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        audit_bm25_store,
        bm25_store_search,
        build_bm25_store,
        repair_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(160)
    qdf = _bm25_probe_set(spark)
    tbl, ref = "t_bm25_crash", "t_bm25_crash_ref"
    try:
        build_bm25_store(d.where("doc_id % 2 = 0"), tbl, forward=True)
        build_bm25_store(d.where("doc_id % 2 = 0"), ref, forward=True)
        append_bm25_postings(d.where("doc_id % 2 = 1"), tbl)
        append_bm25_postings(d.where("doc_id % 2 = 1"), ref)
        good_stats = sorted(
            tuple(r) for r in spark.table(tbl + "_stats").collect()
        )
        # Simulate the crash window: postings + fwd committed, stats
        # row not — rewrite the stats table without the gen-1 row.
        gen0 = spark.table(tbl + "_stats").where("gen = 0").collect()
        spark.createDataFrame(
            gen0, spark.table(tbl + "_stats").schema
        ).write.mode("overwrite").format("parquet").saveAsTable(
            "t_bm25_crash_tmp_stats"
        )
        spark.sql(f"DROP TABLE `{tbl}_stats`")
        spark.sql(
            f"ALTER TABLE t_bm25_crash_tmp_stats RENAME TO `{tbl}_stats`"
        )
        assert spark.table(tbl + "_stats").count() == 1
        # the orphaned store diverges from the reference (single-gen
        # stats path trusts stale per-row df and the low n_docs)
        # ... and the replay of the crashed batch repairs it:
        replay = append_bm25_postings(d.where("doc_id % 2 = 1"), tbl)
        assert replay["admitted"] == 0
        assert replay["repair"]["repaired"]
        assert replay["repair"]["stats_row"] is not None
        assert sorted(
            tuple(r) for r in spark.table(tbl + "_stats").collect()
        ) == good_stats
        assert sorted(
            tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
        ) == sorted(
            tuple(r) for r in bm25_store_search(qdf, ref, top_k=5).collect()
        )
        assert audit_bm25_store(spark, tbl)["ok"]
        # crash between the posting and forward writes: fwd lags too —
        # simulate by dropping the generation's rows from the companion
        fwd_gen0 = spark.table(ref + "_fwd").join(
            d.where("doc_id % 2 = 0").select("doc_id"), "doc_id", "left_semi"
        ).select(*spark.table(ref + "_fwd").columns).collect()
        # a real crash leaves the companion bucketed with the appended
        # generation's rows simply absent — keep the layout metadata
        spark.createDataFrame(
            fwd_gen0, spark.table(tbl + "_fwd").schema
        ).write.mode("overwrite").bucketBy(16, "doc_id").sortBy(
            "doc_id"
        ).format("parquet").saveAsTable("t_bm25_crash_tmp_fwd")
        spark.sql(f"DROP TABLE `{tbl}_fwd`")
        spark.sql(f"ALTER TABLE t_bm25_crash_tmp_fwd RENAME TO `{tbl}_fwd`")
        rep2 = repair_bm25_store(spark, tbl)
        assert rep2["repaired"] and rep2["fwd_rows"] > 0
        assert sorted(
            tuple(r) for r in spark.table(tbl + "_fwd").collect()
        ) == sorted(tuple(r) for r in spark.table(ref + "_fwd").collect())
        # a consistent store repairs nothing (idempotent)
        rep3 = repair_bm25_store(spark, tbl)
        assert rep3 == {"repaired": False, "stats_row": None, "fwd_rows": 0}
    finally:
        for t in (tbl, ref, "t_bm25_crash_tmp"):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_append_guards(spark):
    import pytest as _pytest

    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import append_bm25_postings

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(10)
    with _pytest.raises(ValueError, match="does not exist"):
        append_bm25_postings(d, "t_bm25_never_built")


def test_bm25_empty_store_lifecycle(spark):
    """A store built from an empty (or token-free) frame is a store:
    generation 0 holds exact zeros, search and PRF answer with no rows,
    an append makes it serve exactly what a rebuild of the appended
    docs serves, and compaction and the audit accept it at every step."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        audit_bm25_store,
        bm25_store_prf_search,
        bm25_store_search,
        bm25_store_stats,
        build_bm25_store,
        compact_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(80)
    qdf = _bm25_probe_set(spark)
    tbl, ref, blank = "t_bm25_empty", "t_bm25_empty_ref", "t_bm25_blank"

    def search(t):
        return sorted(
            tuple(r) for r in bm25_store_search(qdf, t, top_k=5).collect()
        )

    try:
        build_bm25_store(d.limit(0), tbl, forward=True)
        build_bm25_store(
            spark.createDataFrame([(1, " "), (2, "")], "doc_id long, text string"),
            blank,
        )
        for t in (tbl, blank):
            assert [tuple(r) for r in spark.table(t + "_stats").collect()] == [
                (0, 0, 0, 0)
            ]
            assert search(t) == []
            assert audit_bm25_store(spark, t)["ok"]
        assert bm25_store_prf_search(qdf, tbl, top_k=5).collect() == []

        out = append_bm25_postings(d, tbl)
        assert out["admitted"] > 0 and out["generation"] == 1
        build_bm25_store(d, ref, forward=True)
        want = search(ref)
        assert want and search(tbl) == want
        st = bm25_store_stats(spark, tbl)
        assert (st.n_docs, st.dl_total, st.avgdl_x100) == tuple(
            spark.table(ref + "_stats").select(
                "n_docs", "dl_total", "avgdl_x100"
            ).first()
        )
        a = audit_bm25_store(spark, tbl)
        assert a["ok"] and a["n_generations"] == 2

        assert compact_bm25_store(spark, tbl)["n_docs"] == st.n_docs
        assert search(tbl) == want
        a = audit_bm25_store(spark, tbl)
        assert a["ok"] and a["n_generations"] == 1

        # compaction of a store that is still empty keeps it empty
        assert compact_bm25_store(spark, blank)["n_docs"] == 0
        assert search(blank) == []
        assert audit_bm25_store(spark, blank)["ok"]
    finally:
        for t in (tbl, ref, blank):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_bm25_legacy_stats_layout_rejected(spark):
    """A ``{table}_stats`` without a ``gen`` column (the layout before
    generations) is refused the same way by every reader: search,
    append, compact, repair and audit raise one ``ValueError`` rather
    than serve from it, report nothing to repair, or skip checks."""
    import pytest as _pytest

    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        audit_bm25_store,
        bm25_store_search,
        build_bm25_store,
        compact_bm25_store,
        repair_bm25_store,
    )

    d = _docs_df(spark)
    tbl = "t_bm25_legacy"
    try:
        build_bm25_store(d.where("doc_id < 4"), tbl)
        legacy = spark.table(tbl + "_stats").select("n_docs", "avgdl_x100")
        legacy.localCheckpoint().write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(tbl + "_stats")
        assert "gen" not in spark.table(tbl + "_stats").columns
        qdf = spark.createDataFrame(QS, "query_id string, text string")
        for call in (
            lambda: bm25_store_search(qdf, tbl).collect(),
            lambda: append_bm25_postings(d, tbl),
            lambda: compact_bm25_store(spark, tbl),
            lambda: repair_bm25_store(spark, tbl),
            lambda: audit_bm25_store(spark, tbl),
        ):
            with _pytest.raises(ValueError, match="predates the generation"):
                call()
        # nothing was written on the way to the error
        assert spark.table(tbl).select("doc_id").distinct().count() == 3
    finally:
        for suf in ("", "_stats", "_fwd", "_bloom"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def _df_window_to_scan(plan: str, tbl: str) -> list[str]:
    """The plan lines from the multi-generation df ``Window`` (a
    ``count(1)`` partitioned by w) down to the posting table's scan."""
    lines = plan.splitlines()
    start = next(
        i for i, ln in enumerate(lines)
        if "Window [count(1) windowspecdefinition(w#" in ln
    )
    end = next(
        i for i in range(start, len(lines))
        if "FileScan" in lines[i] and f"default.{tbl}[" in lines[i]
    )
    return lines[start:end + 1]


def test_bm25_multigen_search_plan(spark):
    """Multi-generation search plan pins: the posting table is scanned
    ONCE; the term probe rides a broadcast semi-join into the
    w-bucketed scan and the corpus-level df is a ``count(*)`` window
    sitting directly on that bucketed ``FileScan`` — no Exchange and no
    checkpointed RDD scan between them; the corpus scalars are literals
    (no stats cross join, so no BroadcastNestedLoopJoin); the only hash
    Exchanges are keyed by query_id (the fan-out aggregate and the
    ranking)."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        bm25_store_search,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(150)
    tbl = "t_bm25_mg_plan"
    try:
        build_bm25_store(d.where("doc_id % 2 = 0"), tbl)
        append_bm25_postings(d.where("doc_id % 2 = 1"), tbl)
        qdf = spark.createDataFrame(
            [("a", "fast hash join")], "query_id string, text string"
        )
        out = bm25_store_search(qdf, tbl, top_k=5)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the executed plan only
        assert plan.count(f"spark_catalog.default.{tbl}[") == 1
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        between = _df_window_to_scan(plan, tbl)
        assert "Bucketed: true" in between[-1]
        assert not [
            ln for ln in between
            if "Exchange" in ln or "Scan ExistingRDD" in ln
        ], "\n".join(between)
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "query_id" in line, f"unexpected shuffle: {line}"
    finally:
        for suf in ("", "_stats", "_fwd", "_bloom"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_bm25_store_search_job_budget(spark):
    """One search launches only the jobs its plan needs: the stats
    collect plus the query plan (its broadcasts and the fan-out
    aggregate). The scalars ride as literals — no stats-frame broadcast
    job, no stats cross join — and widen reads partition counts off the
    plan. Budgets are the counts measured on local[8] (the stats-frame
    and checkpoint path took 8 and 14); a rise means a hidden job came
    back."""
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        bm25_store_search,
        build_bm25_store,
    )
    from tests.job_count import jobs_in_group

    d = _docs_df(spark)
    one, multi = "t_bm25_jobs_one", "t_bm25_jobs_multi"
    try:
        build_bm25_store(d, one)
        build_bm25_store(d.where("doc_id % 2 = 0"), multi)
        append_bm25_postings(d.where("doc_id % 2 = 1"), multi)
        qdf = spark.createDataFrame(QS, "query_id string, text string")
        got = {}
        for tbl, budget in ((one, 6), (multi, 6)):
            out = bm25_store_search(qdf, tbl, top_k=5)
            assert "BroadcastNestedLoopJoin" not in (
                out._jdf.queryExecution().executedPlan().toString()
            )
            rows, jobs = jobs_in_group(
                spark, f"search_{tbl}",
                lambda: bm25_store_search(qdf, tbl, top_k=5).collect(),
            )
            assert jobs <= budget, f"{tbl}: {jobs} jobs > {budget}"
            got[tbl] = sorted(tuple(r) for r in rows)
        assert got[one] == got[multi]  # append = rebuild, scores included
    finally:
        for tbl in (one, multi):
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_bm25_append_compact_job_budget(spark):
    """The serve path's store writes launch only the jobs they need: an
    append (with and without the forward companion) and a compaction.
    Budgets are the counts the hand-written bucketed appends and
    ``write_bucketed`` rewrites took on local[8] (append 18, with the
    forward companion 19; compaction 9 and 13). Writing in the catalog's
    layout (``insertInto``, ``CREATE TABLE LIKE``) must not add a job;
    a ``catalog.listColumns``/``listTables`` call would (it lists
    through Spark jobs)."""
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        bm25_store_search,
        build_bm25_store,
        compact_bm25_store,
    )
    from tests.job_count import jobs_in_group

    d = _docs_df(spark)
    qdf = spark.createDataFrame(QS, "query_id string, text string")
    budgets = {"t_bm25_wjobs": (18, 9), "t_bm25_wjobs_fwd": (19, 13)}
    try:
        got = {}
        for tbl, (b_append, b_compact) in budgets.items():
            build_bm25_store(
                d.where("doc_id % 2 = 0"), tbl, forward=tbl.endswith("_fwd")
            )
            out, jobs = jobs_in_group(
                spark, f"append_{tbl}",
                lambda: append_bm25_postings(d.where("doc_id % 2 = 1"), tbl),
            )
            assert out["admitted"] > 0
            assert jobs <= b_append, f"{tbl} append: {jobs} > {b_append}"
            res, jobs = jobs_in_group(
                spark, f"compact_{tbl}", lambda: compact_bm25_store(spark, tbl)
            )
            assert res["adopted"] is None
            assert jobs <= b_compact, f"{tbl} compact: {jobs} > {b_compact}"
            got[tbl] = sorted(
                tuple(r) for r in bm25_store_search(qdf, tbl, top_k=5).collect()
            )
        assert got["t_bm25_wjobs"] == got["t_bm25_wjobs_fwd"]
    finally:
        for tbl in budgets:
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_append_bm25_postings_job_budget(spark):
    """The serve workload's one write path through ``admit_novel`` /
    ``mirror_bloom``. Without a sidecar the append of a half-replayed
    batch costs the 19 jobs measured on local[8] for the shape where the
    sidecar check is one ``tableExists``; a catalog listing there would
    add jobs. With a
    monolithic or a sharded ``{table}_bloom`` sidecar over the store's
    doc ids, a batch half replayed and half new admits exactly the new
    ids, the same as without a sidecar."""
    from albedo_spark.operators.dedup_store import build_bloom_sidecar
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        build_bm25_store,
    )
    from tests.job_count import jobs_in_group

    d = _docs_df(spark)
    forms = {"t_bm25_adm_none": None, "t_bm25_adm_mono": 0,
             "t_bm25_adm_shrd": 4}
    try:
        admitted = {}
        for tbl, shards in forms.items():
            build_bm25_store(d.where("doc_id % 2 = 0"), tbl)
            if shards is not None:
                build_bloom_sidecar(
                    spark, tbl, tbl + "_bloom", key_col="doc_id",
                    num_bits=1 << 10, num_shards=shards,
                )
            before = {r.doc_id for r in spark.table(tbl).select("doc_id").collect()}
            out, jobs = jobs_in_group(
                spark, f"admit_{tbl}", lambda: append_bm25_postings(d, tbl)
            )
            if shards is None:
                assert jobs <= 19, f"sidecar-less append: {jobs} jobs > 19"
            after = {r.doc_id for r in spark.table(tbl).select("doc_id").collect()}
            admitted[tbl] = (out["admitted"], sorted(after - before))
        want = admitted["t_bm25_adm_none"]
        assert want[0] == len(want[1]) > 0
        assert all(i % 2 == 1 for i in want[1])
        assert admitted["t_bm25_adm_mono"] == want
        assert admitted["t_bm25_adm_shrd"] == want
    finally:
        for tbl in forms:
            for suf in ("", "_stats", "_fwd", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_snippet_windows_hand_example(spark):
    """Span selection pinned by hand: the best 4-token window of doc 1
    for 'red fox' starts at the densest match cluster (positions 4-6:
    red fox red -> 3 matches), ties resolve to the earliest span, a
    window at the document tail is truncated by slice semantics, and a
    hit pair whose doc contains NO query term yields no row."""
    from albedo_spark.operators.retrieval import snippet_windows

    docs = spark.createDataFrame(
        [
            # pos:        0   1    2   3    4   5   6    7
            (1, "red  a   b   c    red fox red  d"),
            (2, "x y z red"),                       # match at tail
            (3, "nothing matching here"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [("q1", "red fox")], "query_id string, text string"
    )
    hits = spark.createDataFrame(
        [("q1", 1), ("q1", 2), ("q1", 3)], "query_id string, doc_id long"
    )
    got = {
        r.doc_id: (r.window_start, r.n_matches, r.snippet)
        for r in snippet_windows(docs, queries, hits, window=4).collect()
    }
    # doc 1: windows starting at matches: pos 0 -> [red,a,b,c] = 1;
    # pos 4 -> [red,fox,red,d] = 3; pos 5 -> 2; pos 6 -> 1. Best: pos 4.
    assert got[1] == (4, 3, "red fox red d")
    # doc 2: single match at pos 3; slice truncates at the tail
    assert got[2] == (3, 1, "red")
    assert 3 not in got  # no matched term, no snippet row


def test_audit_bm25_store(spark):
    """The lexical-store fsck: clean builds and appended stores audit
    ok (appends flip df_recompute_required, never a violation); one
    corrupt posting row trips the dl/df/stats counters at once; a
    corrupted forward companion is caught row-for-row."""
    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        audit_bm25_store,
        build_bm25_store,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    tbl = "t_bm25_audit"
    try:
        build_bm25_store(d.where("doc_id % 2 = 0"), tbl, forward=True)
        a = audit_bm25_store(spark, tbl)
        assert a["ok"] and not a["df_recompute_required"]
        append_bm25_postings(d.where("doc_id % 2 = 1"), tbl)
        a = audit_bm25_store(spark, tbl)
        assert a["ok"] and a["df_recompute_required"]
        assert a["n_generations"] == 2
        # corrupt: one posting row whose dl disagrees with its tf sum,
        # unknown to stats and absent from the forward companion
        spark.createDataFrame(
            [("zzzq", 999_999, 5, 7, 1)],
            "w string, doc_id long, tf long, dl long, df long",
        ).write.mode("append").bucketBy(16, "w").sortBy("w").format(
            "parquet"
        ).saveAsTable(tbl)
        a = audit_bm25_store(spark, tbl)
        assert not a["ok"]
        assert a["bad_dl"] >= 1
        assert a["bad_stats_docs"] == 1 and a["bad_stats_dl"] == 1
        assert a["fwd_mismatch"] >= 1
    finally:
        for suf in ("", "_stats", "_fwd", "_bloom"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_bm25_anchor_field_composition(spark):
    """The anchor corpus as a searchable BM25 field (VERDICT r14
    missing 2b — the last Elasticsearch-shaped capability of the S9/F12
    family): a host document composed as own-text + anchor-text is
    FOUND by a query whose words appear only in how OTHER pages link
    to it, never in the page itself; without the anchor field the same
    query misses."""
    from pyspark.sql import functions as F

    from albedo_spark.functions.text import strip_markup
    from albedo_spark.functions.urls import url_host
    from albedo_spark.operators.extraction import anchor_text_corpus
    from albedo_spark.operators.retrieval import (
        bm25_store_search,
        build_bm25_store,
    )

    pages = [
        (1, "http://alpha.com/home",
         "<p>welcome friends this site sells many fine parts</p>"),
        (2, "http://beta.com/x",
         '<p>see <a href="http://alpha.com/home">quantum widgets'
         " shop</a> for parts</p>"),
        (3, "http://gamma.com/y",
         '<p>the best <a href="http://alpha.com/home">quantum widgets'
         " emporium</a> around</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    anchors = anchor_text_corpus(df, granularity="host")
    got = {r.target: r for r in anchors.collect()}
    assert "quantum widgets" in got["alpha.com"].anchor_text
    assert got["alpha.com"].n_anchors == 2
    assert got["alpha.com"].n_src_docs == 2

    own = (
        df.select(
            url_host(F.col("url")).alias("target"),
            strip_markup(F.col("html")).alias("own_text"),
        )
        .groupBy("target")
        .agg(F.concat_ws(" ", F.sort_array(F.collect_list("own_text")))
             .alias("own_text"))
    )
    composed = own.join(anchors, "target", "left").select(
        F.col("target").alias("doc_id"),
        F.concat_ws(
            " ", "own_text", F.coalesce("anchor_text", F.lit(""))
        ).alias("text"),
    )
    qdf = spark.createDataFrame(
        [("q1", "quantum widgets")], "query_id string, text string"
    )
    try:
        build_bm25_store(composed, "t_anchor_bm25", num_buckets=4)
        hits = bm25_store_search(qdf, "t_anchor_bm25", top_k=1).collect()
        assert [r.doc_id for r in hits] == ["alpha.com"]

        # control: the SAME corpus without the anchor field misses
        build_bm25_store(
            own.select(F.col("target").alias("doc_id"),
                       F.col("own_text").alias("text")),
            "t_anchor_bm25_ctl", num_buckets=4,
        )
        ctl = bm25_store_search(qdf, "t_anchor_bm25_ctl", top_k=1).collect()
        assert "alpha.com" not in {r.doc_id for r in ctl}
    finally:
        for t in ("t_anchor_bm25", "t_anchor_bm25_ctl"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}_stats")
