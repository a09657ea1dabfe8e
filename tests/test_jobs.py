"""CLI job smoke: each entry point runs end-to-end on the synthetic
fixtures and returns a finite NDCG (the §7.6 minimum-slice contract)."""

import math

import pytest

from albedo_spark.jobs import als, curation, popularity


def test_popularity_job(spark):
    ndcg = popularity.main(["--eval-sample", "20"])
    assert math.isfinite(ndcg) and 0.0 <= ndcg <= 1.0


def test_curation_job(spark):
    ndcg = curation.main(["--eval-sample", "20"])
    assert math.isfinite(ndcg) and 0.0 <= ndcg <= 1.0


def test_als_job_fast(spark):
    ndcg = als.main(["--fast", "--eval-sample", "20"])
    assert math.isfinite(ndcg) and ndcg > 0.0


def test_profiles_job(spark, tmp_path):
    from albedo_spark.jobs import profiles

    n_up, n_rp = profiles.main(["--out", str(tmp_path / "prof")])
    assert n_up > 0 and n_rp > 0
    assert spark.read.parquet(str(tmp_path / "prof/user_profile")).count() == n_up


def test_jobs_data_dir_roundtrip(spark, tmp_path):
    # jobs consume parquet tables via --data-dir exactly as generated
    from albedo_spark.fixtures import generate_dataset
    from albedo_spark.jobs import popularity

    out = str(tmp_path / "tables")
    for name, df in generate_dataset(spark, n_users=60, n_repos=150).items():
        df.write.mode("overwrite").parquet(f"{out}/{name}")
    ndcg = popularity.main(["--data-dir", out, "--eval-sample", "15"])
    assert 0.0 <= ndcg <= 1.0


def test_corpus_job_summary(tmp_path, capsys):
    from albedo_spark.jobs.corpus import main

    summary = main(["--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path)])
    assert summary["n_docs"] == 500
    assert summary["n_tokens"] > 0
    assert sum(summary["langs"].values()) == summary["n_docs"]
    assert summary["n_near_dup_pairs"] >= 0
    assert summary["n_contaminated"] >= 5  # the probe docs self-match
    # --out writes both artifacts
    import os
    assert os.path.isdir(tmp_path / "per_doc")
    assert os.path.isdir(tmp_path / "near_dup_pairs")


def test_corpus_job_mixture_and_packing(tmp_path):
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--mixture", "en=5,de=2,fr=2,es=2,zh=1",
        "--epoch-budget", "1200000",
        "--pack-capacity", "512",
    ])
    mix = summary["mixture"]
    assert set(mix) == {"en", "de", "fr", "es", "zh"}
    # binding stratum survives whole-ish; every stratum nonempty and the
    # top-weighted language dominates
    assert mix["en"] == max(mix.values())
    plan = summary["epoch_plan"]
    assert set(plan) <= {"en", "de", "fr", "es", "zh"}
    # shares follow the configured 5:2:2:2:1 weights over the 1.2M budget
    assert plan["en"]["target_tokens"] == 1_200_000 * 5 // 12
    assert all(
        v["epochs_x10k"] == v["target_tokens"] * 10000 // v["n_tokens"]
        for v in plan.values()
    )
    pack = summary["pack"]
    assert pack["capacity"] == 512
    assert pack["n_docs_packed"] == sum(mix.values())  # all mixed docs packed
    assert pack["n_chunks"] > 0
    import os
    assert os.path.isdir(tmp_path / "pack_layout")


def test_corpus_job_quality_model(tmp_path):
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--quality-model-dim", "64",
    ])
    qm = summary["quality_model"]
    assert qm["dim"] == 64
    # weak labels = both heuristic tails, so roughly half the corpus
    assert 100 <= qm["n_labeled"] <= 400
    assert 0 < qm["n_docs_prob_ge_half"] <= summary["n_docs"]
    import os
    assert os.path.isdir(tmp_path / "quality_scores")


def test_corpus_job_bpe_stage(tmp_path):
    """--bpe-merges learns on the survivors and tokenizes them: merge
    table + per-doc token counts land under --out, the summary carries
    the token budget, and the merge list round-trips through parquet in
    rank order."""
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--bpe-merges", "8",
    ])
    bpe = summary["bpe"]
    assert bpe["n_merges"] == 8
    assert len(bpe["top_merges"]) == 5
    assert bpe["n_docs_encoded"] > 0
    # BPE merging only ever shrinks the whitespace-token expansion: total
    # BPE tokens per doc <= total characters, >= word count
    assert bpe["total_tokens"] > 0
    import os

    from albedo_spark.session import get_spark
    spark = get_spark("t-bpe-stage")
    assert os.path.isdir(tmp_path / "bpe_merges")
    m = spark.read.parquet(str(tmp_path / "bpe_merges"))
    rows = sorted(m.collect(), key=lambda r: r.rank)
    assert len(rows) == 8
    assert [f"{r.left}+{r.right}" for r in rows[:5]] == bpe["top_merges"]
    assert all(r.weighted_count > 0 for r in rows)
    tc = spark.read.parquet(str(tmp_path / "bpe_token_counts"))
    assert tc.count() == bpe["n_docs_encoded"]


def test_corpus_job_span_lm_and_shards(tmp_path):
    """The round-7 stages compose: span dedup rewrites texts in place,
    the LM floor drops the tail, and the shard layout covers exactly the
    surviving docs with a parquet tree partitioned by shard."""
    import os

    from albedo_spark.jobs.corpus import main
    from albedo_spark.session import get_spark

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--span-dedup", "2", "--min-lm-score", "1",
        "--shards", "4",
    ])
    assert summary["span_dedup"]["n_tokens_removed"] > 0
    assert summary["lm_filter"]["n_dropped"] >= 0
    shards = summary["shards"]
    assert shards["num_shards"] == 4
    n_sharded = sum(shards["per_shard"].values())
    assert n_sharded == summary["n_docs"] - summary["n_contaminated"] - \
        summary["lm_filter"]["n_dropped"]
    assert os.path.isdir(tmp_path / "shards")
    spark = get_spark("t-shards")
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.count() == n_sharded
    assert set(r.shard for r in back.select("shard").distinct().collect()) \
        <= set(range(4))


def test_corpus_job_incremental_store_loop(tmp_path):
    """End-to-end pipeline loop: exact store resolves batch dups first,
    MinHash incremental runs on the exact-novel survivors, both stores
    advance afterward."""
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--incremental-filter", "doc_id % 5 = 0",
        "--store-prefix", "t_corpus_store",
        "--bloom-bits", "65536",
    ])
    inc = summary["incremental"]
    assert inc["n_batch"] == 100
    assert inc["n_exact_dups"] == 0  # corpus has no exact dups
    assert inc["n_near_dup_pairs"] >= 1  # planted near-dups cross the split
    import os
    assert os.path.isdir(tmp_path / "incremental_near_dup_pairs")
    assert inc["stores_built"] is True
    # second batch against the SAME prefix reuses (does not rebuild) the
    # stores, which now include batch 1's appended signatures — the loop
    summary2 = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--incremental-filter", "doc_id % 5 = 1",
        "--store-prefix", "t_corpus_store",
        "--bloom-bits", "65536",
    ])
    inc2 = summary2["incremental"]
    assert inc2["stores_built"] is False
    assert inc2["n_batch"] == 100

    # third batch with compaction: stores collapse back to ~1 file/bucket
    summary3 = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--incremental-filter", "doc_id % 5 = 2",
        "--store-prefix", "t_corpus_store",
        "--bloom-bits", "65536",
        "--compact-stores",
    ])
    comp = summary3["incremental"]["compaction"]
    for store in ("digests", "minhash"):
        assert comp[store]["files_after"] <= 16
        assert comp[store]["files_after"] <= comp[store]["files_before"]
        assert comp[store]["rows"] > 0
    # bloom sidecar kept lockstep: initial build + one append per batch
    # = 4 generations entering compaction, collapsed back to one row
    assert comp["bloom_generations"] == 4


def test_corpus_job_markup_and_keeper_stages(tmp_path):
    """--strip-markup is a no-op on the already-clean fixture (ratio 0,
    counts unchanged); --keeper-quality drops exactly the non-keeper
    members of the near-dup components from the surviving corpus."""
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--strip-markup", "--keeper-quality",
        "--pack-capacity", "512",
    ])
    assert summary["n_docs"] == 500
    assert summary["markup"]["mean_markup_x10k"] == 0  # plain-text fixture
    kq = summary["keeper_quality"]
    assert kq["n_components"] >= 1       # planted near-dups cluster
    assert kq["n_dropped"] >= kq["n_components"]  # >=1 loser per component
    # pack runs on the post-election corpus: quarantined + dropped gone
    assert summary["pack"]["n_docs_packed"] <= 500 - kq["n_dropped"]


def test_corpus_job_jsonl_export(tmp_path):
    """--export-jsonl drops the post-hygiene corpus as gzip JSONL next to
    the parquet artifacts, in the requested file count."""
    import glob

    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--export-jsonl", "2",
    ])
    assert summary["export_jsonl"] == {"n_files": 2}
    files = glob.glob(str(tmp_path / "corpus_jsonl" / "*.json.gz"))
    assert 1 <= len(files) <= 2  # num_files is an upper cap (coalesce)
    # drop contains the survivors, not the full corpus
    import gzip, json as _json
    n = sum(1 for f in files for _ in gzip.open(f))
    assert 0 < n <= 500 - summary["n_contaminated"]


def test_corpus_job_near_dup_decontamination(tmp_path):
    """--near-dup-decontaminate quarantines at least the probes' own
    corpus copies (self-matches at 1.0) on top of the n-gram stage."""
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--near-dup-decontaminate",
        "--pack-capacity", "512",
    ])
    nd = summary["near_dup_decontamination"]
    assert nd["n_flagged"] >= 5  # the 5 probe docs self-match
    assert summary["pack"]["n_docs_packed"] <= 500 - nd["n_flagged"] + 5


def test_corpus_job_adaptive_quality_stage():
    from albedo_spark.jobs.corpus import main

    summary = main(
        ["--sf-dir", "/root/testdata/sf0.001", "--adaptive-quality", "1/4"]
    )
    aq = summary["adaptive_quality"]
    assert aq["quantile"] == "1/4"
    # a P25 cutoff drops at most ~25% of each language (ties keep more,
    # never fewer survivors), and always keeps at least 75% overall
    assert 0 < aq["n_dropped"] <= summary["n_docs"] // 4 + len(summary["langs"])


def test_corpus_job_containment_drop(tmp_path):
    """--containment-drop removes contained snippets, keeps containers,
    and never drops both sides of a mutual pair; the summary accounts
    every drop."""
    from albedo_spark.jobs.corpus import main

    summary = main(
        ["--sf-dir", "/root/testdata/sf0.001", "--containment-drop", "9/10",
         "--shards", "2"]
    )
    stage = summary["containment_drop"]
    assert stage["threshold"] == "9/10"
    assert stage["n_dropped"] >= 0
    # survivors flowed into the shard stage after the drop (the default
    # decontamination stage runs first — account for it)
    assert sum(summary["shards"]["per_shard"].values()) == (
        summary["n_docs"] - summary["n_contaminated"] - stage["n_dropped"]
    )


def test_corpus_job_ahash_dedup(tmp_path, spark):
    """--ahash-dedup closes perceptual-hash pairs into components and
    keeps exactly one member per component (q113's keeper rule); the
    survivor count reconciles with the summary's drop accounting. The
    sf0.001 fixture has 500 UNIQUE texts (no byte-identical media), so
    the test plants copies in a temp documents table — identical bytes
    → identical aHash → guaranteed components."""
    from albedo_spark.io import load_table
    from albedo_spark.jobs.corpus import main

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    # plant OUTSIDE the decontamination probe set (doc_id < 5): verbatim
    # copies of probes would be quarantined before the ahash stage runs
    copies = docs.where("doc_id >= 10 AND doc_id < 16").selectExpr(
        "doc_id + 1000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    sf_dir = str(tmp_path)
    docs.unionByName(copies).coalesce(1).write.parquet(f"{sf_dir}/documents")
    import glob
    import shutil

    part = glob.glob(f"{sf_dir}/documents/part-*.parquet")[0]
    shutil.move(part, f"{sf_dir}/documents.parquet.tmp")
    shutil.rmtree(f"{sf_dir}/documents")
    shutil.move(f"{sf_dir}/documents.parquet.tmp", f"{sf_dir}/documents.parquet")

    summary = main(["--sf-dir", sf_dir, "--ahash-dedup", "3", "--shards", "2"])
    stage = summary["ahash_dedup"]
    assert stage["max_hamming"] == 3
    # the six planted byte-identical copies must each pair with their
    # original: >= some components, one drop per 2-member component
    assert stage["n_components"] >= 6
    assert stage["n_dropped"] >= stage["n_components"]
    assert sum(summary["shards"]["per_shard"].values()) == (
        summary["n_docs"] - summary["n_contaminated"] - stage["n_dropped"]
    )


def test_corpus_job_semdedup_stage(tmp_path, spark):
    """--semdedup K clusters the survivors' embeddings (integer k-means),
    finds within-cluster cosine near-dups, and keeps one member per
    component. Planted vectors: ids 40..45 carry EXACTLY the vectors of
    ids 10..15 (cosine 1.0, same cluster by construction); all other
    vectors are two-hot constructions whose pairwise cosine stays below
    0.92 < the 0.95 threshold — so exactly six 2-member components."""
    from albedo_spark.io import load_table
    from albedo_spark.jobs.corpus import main

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    sf_dir = str(tmp_path)

    def v(i):
        out = [0.0] * 8
        out[i % 8] += 10.0
        out[(i // 8) % 8] += 5.0
        return out

    emb_rows = [
        (i, v(i - 30) if 40 <= i <= 45 else v(i)) for i in range(60)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")

    import glob
    import shutil

    for name, df in (("documents", docs), ("embeddings", emb)):
        df.coalesce(1).write.parquet(f"{sf_dir}/{name}")
        part = glob.glob(f"{sf_dir}/{name}/part-*.parquet")[0]
        shutil.move(part, f"{sf_dir}/{name}.parquet.tmp")
        shutil.rmtree(f"{sf_dir}/{name}")
        shutil.move(f"{sf_dir}/{name}.parquet.tmp", f"{sf_dir}/{name}.parquet")

    summary = main(["--sf-dir", sf_dir, "--semdedup", "2"])
    stage = summary["semdedup"]
    assert stage["k"] == 2 and stage["cosine"] == 0.95
    assert stage["n_components"] == 6
    assert stage["n_dropped"] == 6
    # drop accounting reconciles with the final survivor count
    assert summary["n_docs"] - summary["n_contaminated"] - 6 == summary.get(
        "n_survivors", summary["n_docs"] - summary["n_contaminated"] - 6
    )


def test_corpus_job_unigram_stage(tmp_path):
    """--unigram-vocab K trains the unigram-LM vocabulary on survivors
    and reports the corpus subword budget; with --out, the vocab and the
    per-word segmentation table land as parquet."""
    import glob

    from albedo_spark.jobs.corpus import main

    out = str(tmp_path / "out")
    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--unigram-vocab", "8",
        "--out", out,
    ])
    stage = summary["unigram"]
    # vocab = singles + <= 8 multis; this corpus has 26-ish chars
    assert stage["vocab_size"] > 8
    assert stage["n_words_segmented"] > 0
    assert stage["total_pieces"] >= stage["n_words_segmented"]
    assert glob.glob(out + "/unigram_vocab/*.parquet")
    assert glob.glob(out + "/unigram_segmentations/*.parquet")


def test_corpus_job_pq_index_stage(spark):
    """--pq-index persists the survivors' IVF-PQ index; it is probe-able
    with pq_store_topk and holds only surviving doc ids."""
    from albedo_spark.jobs.corpus import main
    from albedo_spark.operators.vector_store import pq_store_topk
    from pyspark.sql import functions as F

    tbl = "t_corpus_pq_index"
    try:
        summary = main(["--sf-dir", "/root/testdata/sf0.001",
                        "--pq-index", tbl])
        stage = summary["pq_index"]
        assert stage["table"] == tbl and stage["n_vectors"] > 0
        # VERDICT r11 #1: the CLI path ships TRAINED residual codebooks
        # and records their source + companion table in the summary
        assert stage["codebooks"] == "trained_residual"
        assert spark.catalog.tableExists(stage["codebook_table"])
        from albedo_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = pq_store_topk(queries, tbl, k=3, nprobe=2, m=4, subdim=16)
        assert out.count() > 0
    finally:
        for suf in ("", "_cents", "_cb"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_corpus_job_pq_index_custom_geometry(spark):
    """The --pq-kc/--pq-m/--pq-subdim/--pq-buckets flags reach
    build_pq_store end-to-end (VERDICT r12 ask #5): a non-default
    8x8-over-5-cells index builds, records its geometry in the summary,
    carries codes of the requested width, and serves probes."""
    from pyspark.sql import functions as F

    from albedo_spark.io import load_table
    from albedo_spark.jobs.corpus import main
    from albedo_spark.operators.vector_store import pq_store_topk

    tbl = "t_corpus_pq_geom"
    try:
        summary = main(["--sf-dir", "/root/testdata/sf0.001",
                        "--pq-index", tbl,
                        "--pq-kc", "5", "--pq-m", "8",
                        "--pq-subdim", "8", "--pq-buckets", "4",
                        "--audit-sidecars"])
        stage = summary["pq_index"]
        assert summary["pq_index_audit"]["ok"] is True
        assert summary["pq_index_audit"]["m"] == 8
        assert (stage["kc"], stage["m"], stage["subdim"],
                stage["num_buckets"]) == (5, 8, 8, 4)
        rows = spark.table(tbl)
        # code packs m sub-codes of ncodes=8 values each -> < 8^8
        assert rows.select(F.max("code")).first()[0] < 8 ** 8
        assert rows.select(F.max("cluster_id")).first()[0] < 5
        # the trained codebook companion covers all m=8 subspaces
        assert (
            spark.table(tbl + "_cb").select("s").distinct().count() == 8
        )
        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = pq_store_topk(queries, tbl, k=3, nprobe=2, m=8, subdim=8)
        assert out.count() > 0
    finally:
        for suf in ("", "_cents", "_cb"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_corpus_job_bm25_index_stage(spark):
    """--bm25-index persists the survivors' BM25 store (with the
    forward companion under --bm25-forward); it serves probes, holds
    only surviving doc ids, and the summary records the frozen corpus
    scalars."""
    from pyspark.sql import functions as F

    from albedo_spark.jobs.corpus import main
    from albedo_spark.operators.retrieval import (
        bm25_store_prf_search,
        bm25_store_search,
    )

    tbl = "t_corpus_bm25"
    try:
        summary = main(["--sf-dir", "/root/testdata/sf0.001",
                        "--bm25-index", tbl, "--bm25-forward",
                        "--audit-sidecars"])
        stage = summary["bm25_index"]
        assert summary["bm25_index_audit"]["ok"] is True
        assert stage["table"] == tbl and stage["forward"] is True
        assert stage["n_docs"] > 0 and stage["n_terms"] > 0
        # the index holds survivors only: never more than the corpus
        # minus the contamination drops
        assert stage["n_docs"] <= summary["n_docs"] - summary["n_contaminated"]
        assert spark.catalog.tableExists(tbl + "_fwd")
        qdf = spark.createDataFrame(
            [("a", "fast hash join")], "query_id string, text string"
        )
        hits = bm25_store_search(qdf, tbl, top_k=5)
        assert hits.count() > 0
        prf = bm25_store_prf_search(qdf, tbl, top_k=5, fb_docs=2, fb_terms=3)
        assert prf.count() > 0
        # index doc count matches its distinct posting doc ids
        assert (
            spark.table(tbl).select("doc_id").distinct().count()
            <= stage["n_docs"]  # token-free survivors hold no postings
        )
    finally:
        for suf in ("", "_stats", "_fwd"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


def test_corpus_job_incremental_sidecars(spark):
    """Under --incremental-filter the retrieval sidecars join the
    production loop (r13): history builds generation 0 / trains the
    frozen PQ model once, the batch lands as an appended generation /
    admitted vectors, and a replayed run appends nothing to either."""
    from albedo_spark.jobs.corpus import main

    bt, pt, prefix = "t_inc_bm25", "t_inc_pq", "t_inc_store"
    args = ["--sf-dir", "/root/testdata/sf0.001",
            "--incremental-filter", "doc_id % 7 = 3",
            "--store-prefix", prefix,
            "--bm25-index", bt, "--pq-index", pt]
    try:
        s1 = main(args)
        b1, p1 = s1["bm25_index"], s1["pq_index"]
        assert b1["mode"] == "build+append" and b1["n_generations"] == 2
        assert p1["mode"] == "build+append" and p1["n_vectors"] > 0
        # both halves present: history docs and batch docs in the index
        assert b1["n_docs"] > 0
        s2 = main(args)  # replay: admit_novel blocks everything
        b2, p2 = s2["bm25_index"], s2["pq_index"]
        assert b2["mode"] == "append" and p2["mode"] == "append"
        assert b2["n_generations"] == 2  # no third generation on replay
        assert b2["n_docs"] == b1["n_docs"]
        assert p2["n_vectors"] == p1["n_vectors"]
    finally:
        for t in (bt, pt):
            for suf in ("", "_stats", "_fwd", "_cents", "_cb", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")
        for suf in ("_digests", "_minhash", "_bloom"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}{suf}")


def test_corpus_job_blocklist_phrases_paths_and_equivalence(tmp_path):
    """--blocklist-phrases: (a) a small dictionary takes the q116 regex
    OR-fold path, a big one (forced via --phrase-regex-max 1) the q157
    posting-join path, (b) on this punctuation-clean fixture BOTH paths
    drop the IDENTICAL documents — the promised equivalence — and (c)
    the summary records path, dictionary size, and drop count."""
    from albedo_spark.jobs.corpus import main

    bl = tmp_path / "blocklist.txt"
    bl.write_text("table scan\nhash join\nvector\n\n")

    args = ["--sf-dir", "/root/testdata/sf0.001",
            "--blocklist-phrases", str(bl)]
    s_regex = main(args)  # 3 phrases < default threshold 64 -> regex
    s_phrase = main(args + ["--phrase-regex-max", "1"])

    a, b = s_regex["blocklist_phrases"], s_phrase["blocklist_phrases"]
    assert a["path"] == "regex" and b["path"] == "phrase_posting"
    assert a["n_phrases"] == b["n_phrases"] == 3
    assert a["n_dropped"] == b["n_dropped"] > 0
    # the survivor sets, not just their sizes, must agree: both runs'
    # downstream summaries are computed over the same per-doc frame, so
    # equality of the drop count plus the deterministic pipeline means
    # identical survivors; cross-check via a direct operator comparison
    from pyspark.sql import functions as F

    from albedo_spark.io import load_table
    from albedo_spark.operators.retrieval import phrase_match
    from albedo_spark.operators.textstats import blocklist_hits
    from albedo_spark.session import get_spark

    spark = get_spark("t")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    terms = ["table scan", "hash join", "vector"]
    rx = {
        r.doc_id
        for r in docs.where(
            blocklist_hits(F.col("text"), terms) > 0
        ).collect()
    }
    pf = spark.createDataFrame(
        [(i, t.split()) for i, t in enumerate(terms)],
        "phrase_id long, pt array<string>",
    )
    pm = {r.doc_id for r in
          phrase_match(docs, pf, key="rarest").select("doc_id").distinct().collect()}
    assert rx == pm
    # the CLI stage runs on post-contamination survivors, so its drop
    # count is the operator-level hit set minus already-quarantined docs
    assert len(rx) >= a["n_dropped"] >= len(rx) - s_regex["n_contaminated"]


def test_corpus_job_incremental_sharded_bloom(spark, tmp_path):
    """--bloom-shards: the incremental store loop builds/maintains the
    SHARDED sidecar form (one generation = num_shards rows, lockstep
    appends follow the sidecar's schema), resolves batches identically
    to the monolithic run, and compaction merges per shard."""
    from albedo_spark.jobs.corpus import main

    def run(prefix, extra):
        s1 = main(["--sf-dir", "/root/testdata/sf0.001",
                   "--incremental-filter", "doc_id % 5 = 0",
                   "--store-prefix", prefix,
                   "--bloom-bits", "65536"] + extra)
        s2 = main(["--sf-dir", "/root/testdata/sf0.001",
                   "--incremental-filter", "doc_id % 5 = 1",
                   "--store-prefix", prefix,
                   "--bloom-bits", "65536",
                   "--compact-stores"] + extra)
        return s1["incremental"], s2["incremental"]

    try:
        m1, m2 = run("t_shblmono", [])
        s1, s2 = run("t_shblshrd", ["--bloom-shards", "4"])
        # identical resolution either form
        for a, b in ((m1, s1), (m2, s2)):
            assert (a["n_batch"], a["n_exact_dups"], a["n_near_dup_pairs"]) \
                == (b["n_batch"], b["n_exact_dups"], b["n_near_dup_pairs"])
        side = spark.table("t_shblshrd_bloom")
        assert "shard" in side.columns
        # after compaction: one generation per shard
        assert side.count() == 4
        assert s2["compaction"]["bloom_generations"] >= 2
    finally:
        for t in ("t_shblmono", "t_shblshrd"):
            for suf in ("_digests", "_minhash", "_bloom"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_corpus_job_wordpiece_stage(tmp_path):
    """--wordpiece-merges N learns likelihood-criterion merges on the
    survivors and tokenizes them by greedy longest-match; with --out the
    vocabulary and per-doc token counts land as parquet. Token budget
    sanity: every doc's pieces >= its word count is NOT guaranteed
    ([UNK] collapses a word), but the total must be positive and the
    vocabulary must contain every merge spelling."""
    import glob

    from albedo_spark.jobs.corpus import main

    out = str(tmp_path / "out")
    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--wordpiece-merges", "6",
        "--out", out,
    ])
    stage = summary["wordpiece"]
    assert stage["n_merges"] == 6
    assert stage["vocab_size"] > 6  # alphabet + merges
    assert len(stage["top_merges"]) == 5
    assert stage["n_docs_encoded"] > 0
    assert stage["total_tokens"] > 0
    assert glob.glob(out + "/wordpiece_vocab/*.parquet")
    assert glob.glob(out + "/wordpiece_token_counts/*.parquet")


def test_corpus_job_textrank_stage(tmp_path):
    """--textrank K reports the K highest-centrality survivor keywords
    and lands them as parquet with --out."""
    import glob

    from albedo_spark.jobs.corpus import main

    out = str(tmp_path / "out")
    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--textrank", "15",
        "--out", out,
    ])
    stage = summary["textrank"]
    assert stage["n_keywords"] == 15
    assert len(stage["top"]) == 10 and all(isinstance(w, str) for w in stage["top"])
    assert glob.glob(out + "/textrank_keywords/*.parquet")


def test_corpus_job_sweep_warehouse(spark):
    """--sweep-warehouse runs the dead-private-copy sweep up front and
    records counts; a fresh dead-pid dir survives (the freshness guard)
    but is reported under kept_fresh."""
    import os
    import shutil
    import subprocess

    from albedo_spark.jobs.corpus import main

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    reaped = subprocess.Popen(["true"])
    reaped.wait()
    d = os.path.join(wh, f"t_cli_sweep__b{reaped.pid}")
    os.makedirs(d, exist_ok=True)
    try:
        summary = main(["--sf-dir", "/root/testdata/sf0.001",
                        "--sweep-warehouse"])
        sw = summary["warehouse_sweep"]
        assert set(sw) == {"n_swept", "kept_live", "kept_fresh", "kept_recent"}
        # the fresh plant is never deleted — it lands in kept_fresh
        # (dead pid + young dir), kept_recent (dead pid, predates the
        # process, under the absolute age threshold — the r14 co-tenant
        # guard), or kept_live (pid recycled by one of the session's own
        # worker forks); whichever guard fires, it survives
        assert sw["kept_fresh"] + sw["kept_live"] + sw["kept_recent"] >= 1
        assert os.path.isdir(d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_corpus_job_langid_stage(tmp_path):
    """--langid (VERDICT r13 #3): the per-language stages run on the
    char-n-gram PREDICTION instead of the trusted lang column — the
    front-door posture for a real crawl. The input's own label survives
    as lang_label, the summary records the predicted distribution and
    the label agreement, and the adaptive-quality cutoff groups on the
    predicted languages."""
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path),
        "--langid",
        "--adaptive-quality", "1/4",
    ])
    li = summary["langid"]
    assert sum(li["langs"].values()) == summary["n_docs"]
    # the synthetic corpus text is English-ish regardless of its random
    # labels: the classifier must say so (and agreement with the random
    # labels is therefore ~chance, recorded as a diagnostic)
    assert li["langs"].get("en", 0) > summary["n_docs"] // 2
    assert 0 <= li["n_label_match"] <= summary["n_docs"]
    aq = summary["adaptive_quality"]
    assert aq["quantile"] == "1/4" and aq["n_dropped"] >= 0


def _url_documents(tmp_path, where="TRUE"):
    """sf0.001 under ``tmp_path/sf`` with a deliberately messy,
    collision-rich url column on the documents rows matching ``where``;
    the other tables ride along untouched."""
    import os
    import shutil

    import duckdb

    src = "/root/testdata/sf0.001"
    sf = tmp_path / "sf"
    sf.mkdir()
    con = duckdb.connect()
    con.sql(f"""
        COPY (
            SELECT *,
                   'HTTP://WWW.Host' || CAST(doc_id % 3 AS VARCHAR)
                   || '.Example.COM/p/' || CAST(doc_id % 5 AS VARCHAR)
                   || '?utm_source=x&id=' || CAST(doc_id % 2 AS VARCHAR)
                   || '#f' AS url
            FROM '{src}/documents.parquet'
            WHERE {where}
        ) TO '{sf}/documents.parquet' (FORMAT PARQUET)
    """)
    for t in os.listdir(src):
        if t != "documents.parquet":
            shutil.copy(os.path.join(src, t), sf / t)
    return sf


def test_corpus_job_url_front_door(tmp_path):
    """--url-col/--url-dedup/--host-cap (VERDICT r13 #4): the URL/host
    hygiene stages run as the pipeline's FRONT DOOR — before any text
    stage — deduping canonical-equal URLs (min id kept) and capping
    docs per host, with the summary recording each stage's row
    deltas."""
    from albedo_spark.jobs.corpus import main

    sf = _url_documents(tmp_path)
    summary = main([
        "--sf-dir", str(sf), "--out", str(tmp_path / "out"),
        "--url-col", "url", "--url-dedup", "--host-cap", "8",
    ])
    uh = summary["url_hygiene"]
    # canonical space is (host%3 x page%5 x id%2) = 30 distinct urls
    assert uh["n_before"] == 500
    assert uh["n_after_url_dedup"] == 30
    # 3 hosts x 10 canonical urls each, capped at 8 per host
    assert uh["n_after_host_cap"] == 24
    assert summary["n_docs"] == 24  # everything downstream saw 24 docs


def test_corpus_job_benchmark_flags_job_budget(tmp_path, spark):
    """The benchmark's flag set (URL front door + packing) runs no stage
    twice for its summary: each URL stage count fills the persisted frame
    the next stage reads, the core numbers are one aggregate, and
    contamination runs once for its count, the packer and the writes.
    Counting each number over its whole lineage took 71 to 77 jobs here;
    this takes 50 to 53, depending on what ran earlier in the session."""
    from albedo_spark.jobs.corpus import main
    from tests.job_count import jobs_in_group

    sf = _url_documents(tmp_path)
    summary, jobs = jobs_in_group(spark, "corpus-benchmark-flags", lambda: main([
        "--sf-dir", str(sf), "--out", str(tmp_path / "out"),
        "--url-col", "url", "--url-dedup", "--host-cap", "8",
        "--pack-capacity", "512",
    ]))
    assert list(summary.items()) == [
        ("n_docs", 24), ("n_tokens", 1282), ("langs", {"und": 2, "en": 22}),
        ("n_exact_dup_groups", 0), ("n_near_dup_pairs", 0), ("n_pii_docs", 0),
        ("n_contaminated", 4), ("median_quality_x10k", 8035.0),
        ("url_hygiene", {"n_before": 500, "n_after_url_dedup": 30,
                         "host_cap": 8, "n_after_host_cap": 24}),
        ("pack", {"capacity": 512, "n_docs_packed": 20, "n_chunks": 3}),
        ("out", str(tmp_path / "out")),
    ]
    assert jobs <= 60, jobs


@pytest.mark.parametrize("n_rows", [0, 1])
def test_corpus_job_degenerate_inputs(tmp_path, n_rows):
    """An empty and a one-row documents table run the URL front door,
    a drop-only stage and packing to the end, and the counts are 0s and
    1s. doc 7 is not a probe (doc_id < 5), so the one row survives."""
    from albedo_spark.jobs.corpus import main

    where = "doc_id = 7" if n_rows else "FALSE"
    summary = main([
        "--sf-dir", str(_url_documents(tmp_path, where)),
        "--url-col", "url", "--url-dedup", "--host-cap", "8",
        "--adaptive-quality", "1/4", "--pack-capacity", "512",
    ])
    assert summary["url_hygiene"] == {
        "n_before": n_rows, "n_after_url_dedup": n_rows,
        "host_cap": 8, "n_after_host_cap": n_rows,
    }
    assert summary["n_docs"] == n_rows
    assert sum(summary["langs"].values()) == n_rows
    assert summary["n_contaminated"] == 0
    assert summary["adaptive_quality"] == {"quantile": "1/4", "n_dropped": 0}
    assert summary["pack"]["n_docs_packed"] == n_rows
    assert summary["pack"]["n_chunks"] == n_rows


@pytest.mark.parametrize("regex_max", ["64", "1"])
def test_corpus_job_drop_stage_funnel(tmp_path, regex_max):
    """Every drop-only hygiene stage in one run, on the regex and on the
    posting-join blocklist path. Each n_dropped is the previous stage's
    row count minus this stage's, one count per stage; the values are
    the ones two counts per stage gave, and the drops account for every
    packed doc."""
    import json

    from albedo_spark.jobs.corpus import main

    bl = tmp_path / "blocklist.txt"
    bl.write_text("table scan\nhash join\nvector\n")
    summary = main([
        "--blocklist-phrases", str(bl),
        "--phrase-regex-max", regex_max, "--containment-drop", "9/10",
        "--span-dedup", "2", "--min-lm-score", "1",
        "--adaptive-quality", "1/4", "--soft-quality", "7000:8500",
        "--pack-capacity", "512",
    ])
    path = "regex" if regex_max == "64" else "phrase_posting"
    assert json.dumps(summary) == json.dumps({
        "n_docs": 500, "n_tokens": 27939, "langs": {"und": 34, "en": 466},
        "n_exact_dup_groups": 0, "n_near_dup_pairs": 28, "n_pii_docs": 0,
        "n_contaminated": 7, "median_quality_x10k": 7909.0,
        "blocklist_phrases": {"path": path, "n_dropped": 385, "n_phrases": 3},
        "containment_drop": {"threshold": "9/10", "n_dropped": 5},
        "span_dedup": {"min_df": 2, "n_tokens_removed": 72},
        "lm_filter": {"min_score_x10k": 1, "n_dropped": 0},
        "adaptive_quality": {"quantile": "1/4", "n_dropped": 21},
        "soft_quality": {"lo": 7000, "hi": 8500, "floor_x10k": 1000,
                         "n_dropped": 38},
        "pack": {"capacity": 512, "n_docs_packed": 44, "n_chunks": 4},
    })
    dropped = sum(v["n_dropped"] for v in summary.values()
                  if isinstance(v, dict) and "n_dropped" in v)
    assert summary["n_docs"] - summary["n_contaminated"] - dropped == 44


def test_corpus_job_stage_drops_every_doc():
    """An LM floor above every score drops every survivor; the stages
    after it and the packer run on an empty frame. The numbers are the
    ones two counts per stage gave."""
    from albedo_spark.jobs.corpus import main

    summary = main([
        "--min-lm-score", "10001",
        "--soft-quality", "7000:8500", "--pack-capacity", "512",
    ])
    assert summary["lm_filter"] == {"min_score_x10k": 10001, "n_dropped": 493}
    assert summary["n_docs"] - summary["n_contaminated"] == 493
    assert summary["soft_quality"]["n_dropped"] == 0
    assert summary["pack"] == {"capacity": 512, "n_docs_packed": 0, "n_chunks": 0}


def test_corpus_job_warc_input(tmp_path):
    """--warc-in: the Common Crawl front door end to end — WARC response
    bodies become documents, --url-col/--url-dedup and --langid run on
    them, and the summary reflects the crawl-native row flow. Without
    --langid the flag fails fast (a crawl has no lang column)."""
    import gzip

    import pytest as _pytest

    from albedo_spark.jobs.corpus import main
    from tests.test_warc import _warc_bytes

    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(_warc_bytes())
    # second crawl of the same pages: distinct record ids (as a real
    # recrawl would have), same target urls -> URL dedup's job
    (wdir / "b.warc.gz").write_bytes(
        gzip.compress(_warc_bytes().replace(b"<urn:uuid:", b"<urn:uuidB:"))
    )

    with _pytest.raises(ValueError, match="requires --langid"):
        main(["--warc-in", str(wdir), "--out", str(tmp_path / "o0")])

    summary = main([
        "--warc-in", str(wdir), "--out", str(tmp_path / "out"),
        "--langid", "--url-col", "url", "--url-dedup",
    ])
    # 3 responses per file, same record ids across files -> url dedup
    # collapses the twins: 6 -> 3
    assert summary["url_hygiene"]["n_before"] == 6
    assert summary["url_hygiene"]["n_after_url_dedup"] == 3
    assert summary["n_docs"] == 3
    assert sum(summary["langid"]["langs"].values()) == 3


def test_corpus_job_warc_html_extract(tmp_path):
    """--warc-in --html-extract: jusText extraction inside the CLI —
    boilerplate-only pages are dropped, kept pages carry main text only
    (nav/footer gone), and the flag fails fast without --warc-in."""
    import pytest as _pytest

    from albedo_spark.jobs.corpus import main
    from tests.test_warc import _http, _record

    body = (
        "it was a bright cold day in april and the clocks were striking "
        "thirteen and he walked to the office with his hands in his "
        "pockets while the wind was at his back for most of an hour and "
        "he thought about all of the things they had said at the meeting"
    )
    page = (
        '<html><body><div class="nav"><a href="/">Home</a> '
        '<a href="/a">About us</a> <a href="/c">Contact</a></div>'
        f"<p>{body}</p>"
        "<div>&copy; Example Inc all rights reserved</div>"
        "</body></html>"
    ).encode()
    nav_only = (
        '<html><body><div><a href="/">Home</a> <a href="/b">B</a>'
        "</div></body></html>"
    ).encode()
    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "p.warc").write_bytes(
        _record("response", "http://k.example.com/page", _http(page),
                rid="<urn:uuid:keep>")
        + _record("response", "http://d.example.com/nav", _http(nav_only),
                  rid="<urn:uuid:drop>")
    )

    with _pytest.raises(ValueError, match="requires --warc-in"):
        main(["--html-extract", "--langid", "--out", str(tmp_path / "o0")])

    summary = main([
        "--warc-in", str(wdir), "--out", str(tmp_path / "out"),
        "--langid", "--html-extract",
    ])
    assert summary["n_docs"] == 1  # the nav-only page was dropped

    import duckdb

    txt = duckdb.sql(
        f"SELECT text_clean FROM '{tmp_path}/out/per_doc/*.parquet'"
    ).fetchone()[0]
    assert txt == body  # nav and footer never entered the corpus


def test_corpus_job_code_route(tmp_path):
    """--code-route: code-likeness domain routing inside the CLI — the
    fixture corpus is prose (nothing routes at the tested boundary),
    a tiny threshold routes everything, and with --out the routed docs
    land in code_docs/ while the prose pipeline sees the rest."""
    from albedo_spark.jobs.corpus import main

    base = main(["--sf-dir", "/root/testdata/sf0.001"])
    routed = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--code-route", "1500", "--out", str(tmp_path / "out"),
    ])
    assert routed["code_route"]["n_code_docs"] == 0  # word-soup prose
    assert routed["n_docs"] == base["n_docs"]

    all_code = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--code-route", "0", "--out", str(tmp_path / "o2"),
    ])
    assert all_code["code_route"]["n_code_docs"] == base["n_docs"]
    assert all_code["n_docs"] == 0

    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/o2/code_docs/*.parquet'"
    ).fetchone()[0]
    assert n == base["n_docs"]


def test_corpus_job_soft_quality(tmp_path):
    """--soft-quality: the ramp drops part of the borderline mass but
    never the high end; a floor of 10000 (prob 1 everywhere) drops
    nothing — the identity check that the CLI parses and wires the
    anchors correctly."""
    from albedo_spark.jobs.corpus import main

    base = main(["--sf-dir", "/root/testdata/sf0.001"])
    ramp = main([
        "--sf-dir", "/root/testdata/sf0.001", "--soft-quality", "7000:8500",
    ])
    sq = ramp["soft_quality"]
    assert sq == {"lo": 7000, "hi": 8500, "floor_x10k": 1000,
                  "n_dropped": sq["n_dropped"]}
    assert 0 < sq["n_dropped"] < base["n_docs"]

    ident = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--soft-quality", "7000:8500:10000",
    ])
    assert ident["soft_quality"]["n_dropped"] == 0


def test_corpus_job_link_graph(tmp_path):
    """--link-graph: the crawl graph product — host edges extracted
    from raw decoded pages land in host_edges/ and the summary, and
    the flag fails fast without --warc-in."""
    import pytest as _pytest

    from albedo_spark.jobs.corpus import main
    from tests.test_warc import _http, _record

    page_a = ('<html><body><a href="http://b.example.com/x">to b</a>'
              '<a href="/self">rel</a>'
              "<p>plenty of the and of the words here</p></body></html>"
              ).encode()
    page_b = ('<html><body><a href="http://a.example.com/y">to a</a>'
              "<p>more of the and of the words here</p></body></html>"
              ).encode()
    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "g.warc").write_bytes(
        _record("response", "http://a.example.com/p", _http(page_a),
                rid="<urn:uuid:ga>")
        + _record("response", "http://b.example.com/q", _http(page_b),
                  rid="<urn:uuid:gb>")
    )

    with _pytest.raises(ValueError, match="requires --warc-in"):
        main(["--link-graph", "--langid", "--out", str(tmp_path / "o0")])

    summary = main([
        "--warc-in", str(wdir), "--out", str(tmp_path / "out"),
        "--langid", "--link-graph",
    ])
    lg = summary["link_graph"]
    # r15: the anchor corpus rides the same extraction — "to b"/"rel"
    # target a.example.com (relative stays on source) and b.example.com
    assert lg == {"n_edges": 3, "n_links": 3, "n_anchor_targets": 2}
    import duckdb as _duck

    anchors = {
        t: a
        for t, a in _duck.sql(
            f"SELECT target, anchor_text FROM "
            f"'{tmp_path}/out/anchor_corpus/*.parquet'"
        ).fetchall()
    }
    assert anchors["b.example.com"] == "to b"
    assert anchors["a.example.com"] == "rel to a"  # (doc, pos) order

    import duckdb

    rows = duckdb.sql(
        f"SELECT src_host, dst_host, n_links FROM "
        f"'{tmp_path}/out/host_edges/*.parquet' ORDER BY 1, 2"
    ).fetchall()
    assert rows == [
        ("a.example.com", "a.example.com", 1),  # relative -> self
        ("a.example.com", "b.example.com", 1),
        ("b.example.com", "a.example.com", 1),
    ]


def test_corpus_job_incremental_url_rung(tmp_path):
    """--incremental-filter + --url-col (VERDICT r14 missing 2a): the
    URL store is the incremental loop's FIRST rung — a recrawl batch
    drops already-fetched canonical URLs before any text rung digests
    or shingles it, and the store advances so the next batch dedups
    against history including this one."""
    import os
    import shutil

    import duckdb

    from albedo_spark.jobs.corpus import main

    src = "/root/testdata/sf0.001"
    sf = tmp_path / "sf"
    sf.mkdir()
    con = duckdb.connect()
    con.sql(f"""
        COPY (
            SELECT *,
                   'http://h' || CAST(doc_id % 3 AS VARCHAR)
                   || '.com/p/' || CAST(doc_id % 5 AS VARCHAR)
                   || '?utm_source=x&id=' || CAST(doc_id % 2 AS VARCHAR)
                   AS url
            FROM '{src}/documents.parquet'
        ) TO '{sf}/documents.parquet' (FORMAT PARQUET)
    """)
    for t in os.listdir(src):
        if t != "documents.parquet":
            shutil.copy(os.path.join(src, t), sf / t)

    summary = main([
        "--sf-dir", str(sf), "--out", str(tmp_path / "out"),
        "--incremental-filter", "doc_id % 5 = 0",
        "--url-col", "url",
        "--store-prefix", "t_url_rung_store",
    ])
    inc = summary["incremental"]
    ur = inc["url_rung"]
    # batch canonicals are (host%3, page 0, id%2) = 6 urls history never
    # fetched (history holds pages 1-4 only): 6 novel keepers, 94
    # batch-internal refetch dups — dropped BEFORE the digest rung
    assert ur["n_batch_pre_url"] == 100
    assert ur["n_url_dups"] == 94
    assert inc["n_batch"] == 6  # text rungs saw only URL-novel docs

    # second batch overlaps history's ids (page-1 docs WERE history):
    # the 6 canonical keepers resolve to THEMSELVES (is_dup=false by
    # the keeper-is-itself rule), the other 94 drop as refetch dups —
    # and the admit-guarded append leaves the store's 30 keys intact
    # (no duplicate canonical_url keys from the 6 self-keepers)
    summary2 = main([
        "--sf-dir", str(sf),
        "--incremental-filter", "doc_id % 5 = 1",
        "--url-col", "url",
        "--store-prefix", "t_url_rung_store",
    ])
    inc2 = summary2["incremental"]
    assert inc2["url_rung"]["n_url_dups"] == 94
    assert inc2["n_batch"] == 6
    assert inc2["stores_built"] is False

    from albedo_spark.session import get_spark
    spark = get_spark("t-url-rung")
    urls = spark.table("t_url_rung_store_urls")
    assert urls.count() == 30  # 24 built + 6 appended, zero duplicates
    assert urls.select("canonical_url").distinct().count() == 30
    for t in ("urls", "digests", "minhash"):
        spark.sql(f"DROP TABLE IF EXISTS t_url_rung_store_{t}")


def test_corpus_job_warc_per_language_extract(tmp_path):
    """--warc-in --langid --html-extract (r15, VERDICT r14 missing 2c):
    language is predicted BEFORE extraction and drives the stopword
    list, so a stopword-dense German page keeps its main content —
    under the English-only list its density reads ~0 and the page
    would be dropped entirely (the all-boilerplate verdict)."""
    from albedo_spark.jobs.corpus import main
    from tests.test_warc import _http, _record

    de_body = (
        "der schnelle braune fuchs springt über den faulen hund und die "
        "kinder gehen am morgen zur schule während die sonne über der "
        "stadt aufgeht die frau liest eine zeitung im garten und der "
        "mann trinkt seinen kaffee mit viel freude denn das wetter ist "
        "heute wirklich schön und wir haben noch so viele dinge zu tun"
    )
    en_body = (
        "it was a bright cold day in april and the clocks were striking "
        "thirteen and he walked to the office with his hands in his "
        "pockets while the wind was at his back for most of an hour and "
        "he thought about all of the things they had said at the meeting"
    )
    def page(b):
        return (
            '<html><body><div><a href="/">Home</a> <a href="/a">More'
            f"</a></div><p>{b}</p></body></html>"
        ).encode("utf-8")

    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "p.warc").write_bytes(
        _record("response", "http://de.example.com/s", _http(page(de_body)),
                rid="<urn:uuid:de>")
        + _record("response", "http://en.example.com/s", _http(page(en_body)),
                  rid="<urn:uuid:en>")
    )
    summary = main([
        "--warc-in", str(wdir), "--out", str(tmp_path / "out"),
        "--langid", "--html-extract",
    ])
    # BOTH pages survive extraction with their body as main content —
    # the English-only list would have dropped the German page whole
    # (stopword density ~0 → every block bad → no good block)
    assert summary["n_docs"] == 2
    langs = summary["langid"]["langs"]
    assert langs.get("de") == 1 and langs.get("en") == 1

    from albedo_spark.session import get_spark
    spark = get_spark("t-perlang")
    kept = {
        r.lang: r.text_clean
        for r in spark.read.parquet(str(tmp_path / "out" / "per_doc"))
        .select("lang", "text_clean")
        .collect()
    }
    assert "fuchs" in kept["de"] and "Home" not in kept["de"]  # nav gone
    assert "clocks" in kept["en"]


def test_corpus_job_frontier(tmp_path):
    """--warc-in --frontier (r15): the crawl loop's output — outlink
    targets not yet fetched land in frontier/ with citation counts;
    pages already in the batch (and so in the bootstrapped URL store)
    never appear; a second run whose WARC fetched a frontier URL
    removes it from the NEXT frontier (the store advanced)."""
    import pytest as _pytest

    from albedo_spark.jobs.corpus import main
    from albedo_spark.session import get_spark
    from tests.test_warc import _http, _record

    with _pytest.raises(ValueError, match="requires --warc-in"):
        main(["--frontier"])

    page_a = (
        '<html><body><p>alpha page with some plain words here '
        '<a href="http://b.example.com/next?utm_source=f">next page</a> '
        '<a href="/self/about">about</a></p></body></html>'
    ).encode()
    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(
        _record("response", "http://a.example.com/start", _http(page_a),
                rid="<urn:uuid:fa>")
    )
    spark = get_spark("t-frontier-cli")
    spark.sql("DROP TABLE IF EXISTS t_front_store_urls")
    try:
        summary = main([
            "--warc-in", str(wdir), "--out", str(tmp_path / "o1"),
            "--langid", "--frontier", "--store-prefix", "t_front_store",
        ])
        fr = summary["frontier"]
        assert fr["n_frontier_urls"] == 2
        back = {
            r.frontier_url: r.n_refs
            for r in spark.read.parquet(
                str(tmp_path / "o1" / "frontier")
            ).collect()
        }
        assert back == {
            "http://b.example.com/next": 1,
            "http://a.example.com/self/about": 1,
        }

        # second crawl batch fetched one frontier target; the store
        # (reused via --store-prefix) was NOT advanced by run 1's
        # frontier (discovery never admits), but run 2's own pages
        # bootstrap-join it — b.example.com/next is now fetched and
        # must vanish from the frontier
        page_b = (
            "<html><body><p>the b page plain words and one link "
            '<a href="http://c.example.com/deeper">go deeper</a>'
            "</p></body></html>"
        ).encode()
        (wdir / "b.warc").write_bytes(
            _record("response", "http://b.example.com/next",
                    _http(page_b), rid="<urn:uuid:fb>")
        )
        summary2 = main([
            "--warc-in", str(wdir), "--out", str(tmp_path / "o2"),
            "--langid", "--frontier", "--store-prefix", "t_front_store",
            "--incremental-filter", "doc_id >= 0", "--url-col", "url",
        ])
        back2 = {
            r.frontier_url
            for r in spark.read.parquet(
                str(tmp_path / "o2" / "frontier")
            ).collect()
        }
        assert "http://c.example.com/deeper" in back2
        assert "http://b.example.com/next" not in back2
    finally:
        for t in ("urls", "digests", "minhash"):
            spark.sql(f"DROP TABLE IF EXISTS t_front_store_{t}")
