"""Training-corpus hygiene job — the LLM-data-pipeline extension as one
runnable surface (north-star extension; the reference has no corpus
tooling):

    python -m albedo_spark.jobs.corpus --sf-dir /root/testdata/sf0.001 \
        [--out DIR] [--probe-ids 5] [--jaccard 0.8]

Pipeline: (optional ``--strip-markup`` front door: HTML shell off before
anything else) → per-document stats (tokens, quality, language,
repetition, fingerprint) → PII scrub → exact-dup groups → MinHash-LSH
near-dup pairs (exact-Jaccard verified; with ``--keeper-quality`` the
pairs close into components and only each component's highest-quality
member survives) → decontamination vs the probe set → one summary JSON
line on stdout; with ``--out``, the cleaned per-document table and the
near-dup pair list land as parquet.

With ``--mixture`` (e.g. ``en=5,de=2,fr=2,es=2,zh=1``) the surviving
documents are mixture-downsampled to the target language weights, and
with ``--pack-capacity N`` the final corpus is laid out as fixed-capacity
training chunks (concat-and-chunk packing over the distributed prefix
sum) — the complete pre-training data path: hygiene → mix → pack.

Every stage is the same oracle-gated operator the catalog exposes
(q18/q21/q22/q29/q67/q68/q69/q73/q74) — the job only wires them
together, so the correctness evidence carries over.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _drop_non_keepers(survivors, pairs, per_doc):
    """q113's election: each component of the near-dup ``pairs`` keeps its
    highest-quality member (ties -> smallest id), the rest leave
    ``survivors``; with the stage's n_components/n_dropped aggregate."""
    from albedo_spark.operators.dedup import (
        connected_components,
        keeper_by_quality,
    )

    elected = keeper_by_quality(
        connected_components(pairs.select("id_a", "id_b")),
        per_doc.select("doc_id", "quality_x10k"),
    )
    stats = elected.agg(
        F.countDistinct("component_id").alias("n_components"),
        F.count(F.when(~F.col("is_kept"), 1)).alias("n_dropped"),
    ).first()
    dropped = elected.where(~F.col("is_kept")).select("doc_id")
    return survivors.join(dropped, "doc_id", "left_anti"), stats.asDict()


class _Funnel:
    """Row counts along the survivors chain, each from the one action that
    fills a persisted frame the next stage reads. A drop-only stage's
    ``n_dropped`` is its input rows minus its output rows: the input count
    is the previous fill's, or one more fill when a stage that keeps its
    own statistics replaced the survivors in between."""

    def __init__(self, df, rows):
        self.df, self.rows = df, rows

    def drop(self, entry, df, stage):
        """``stage(df)``, persisted and counted once; sets
        ``entry["n_dropped"]``."""
        if df is not self.df:
            self.rows = df.persist().count()
        out = stage(df).persist()
        n_out = out.count()
        entry["n_dropped"] = self.rows - n_out
        self.df, self.rows = out, n_out
        return out


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", default=None, help="write per-doc + pairs parquet here")
    p.add_argument("--export-jsonl", type=int, default=None, metavar="N_FILES",
                   help="with --out: also export the surviving corpus as "
                        "gzip JSONL in N_FILES files (the interchange drop "
                        "downstream tools consume)")
    p.add_argument("--probe-ids", type=int, default=5,
                   help="doc_id < N is the decontamination probe set")
    p.add_argument("--near-dup-decontaminate", action="store_true",
                   help="ALSO quarantine docs that are near-duplicates "
                        "(banded minhash + exact Jaccard >= --jaccard) of "
                        "any probe doc — catches the reformatting/"
                        "paraphrase leak class verbatim n-grams miss")
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--strip-markup", action="store_true",
                   help="strip HTML-ish markup (script/style/comment "
                        "bodies, tags, entities) from every document "
                        "BEFORE any other stage — the raw-crawl front "
                        "door; reports the mean markup-overhead ratio")
    p.add_argument("--keeper-quality", action="store_true",
                   help="close the near-dup pairs into components and "
                        "drop every member except the highest-quality "
                        "one (ties -> smallest id) from the surviving "
                        "corpus — quality-aware canonicalization instead "
                        "of keep-all")
    p.add_argument("--mixture", default=None,
                   help="target language weights, e.g. en=5,de=2,fr=2,es=2,zh=1")
    p.add_argument("--epoch-budget", type=int, default=None, metavar="TOKENS",
                   help="with --mixture: also report the per-language epoch "
                        "plan (budget share ∝ weight, repeat factor x10k) "
                        "for this total training token budget")
    p.add_argument("--pack-capacity", type=int, default=None,
                   help="emit a chunk layout at this token capacity")
    p.add_argument("--containment-drop", default=None, metavar="NUM/DEN",
                   help="drop documents whose 3-gram shingle set is "
                        "contained in another surviving document at >= "
                        "NUM/DEN (quote/snippet hygiene — the asymmetric "
                        "near-dup case Jaccard misses; the container is "
                        "kept, and of a MUTUAL pair the smaller doc_id "
                        "survives)")
    p.add_argument("--ahash-dedup", type=int, default=None, metavar="MAX_HAMMING",
                   help="perceptual-hash (aHash) near-dup stage for mixed "
                        "text+media corpora: content bytes -> 64-bit aHash "
                        "in 4 bands -> banded pairs at hamming <= "
                        "MAX_HAMMING -> components -> q113 keeper election "
                        "(highest quality survives). On this fixture the "
                        "documents' UTF-8 bytes stand in for media content "
                        "(the stub byte-grid path); a real corpus supplies "
                        "a binary content column and the PIL path")
    p.add_argument("--semdedup", type=int, default=None, metavar="K",
                   help="semantic dedup (SemDeDup): k-means the surviving "
                        "documents' embeddings into K clusters (q149's "
                        "integer trainer; needs K seed ids ≡ 0 mod 29 among "
                        "survivors — raises loudly otherwise), compare only "
                        "within-cluster pairs by exact cosine, and keep one "
                        "highest-quality member per near-dup component "
                        "(q113's keeper rule)")
    p.add_argument("--semdedup-cosine", type=float, default=0.95,
                   help="within-cluster cosine threshold for --semdedup")
    p.add_argument("--blocklist-phrases", default=None, metavar="FILE",
                   help="drop documents containing ANY phrase from FILE "
                        "(one phrase per line). Small dictionaries fold "
                        "into ONE word-boundary regex (q116's OR-fold); "
                        "dictionaries with >= --phrase-regex-max entries "
                        "route through the posting-join matcher "
                        "phrase_match(key='rarest') (q157's operator) — "
                        "the scale path when 10^6 phrases are neither "
                        "compilable nor pushable as a pattern. The phrase "
                        "path matches at TOKEN granularity (lowercased "
                        "whitespace tokens), the regex path at character "
                        "granularity with \\b anchors; on punctuation-"
                        "adjacent hits they can differ — equivalence on "
                        "clean corpora is pytest-pinned")
    p.add_argument("--phrase-regex-max", type=int, default=64,
                   help="dictionary size at which --blocklist-phrases "
                        "switches from the regex OR-fold to the posting-"
                        "join matcher")
    p.add_argument("--span-dedup", type=int, default=None, metavar="MIN_DF",
                   help="remove 4-token spans duplicated across >= MIN_DF "
                        "distinct docs (ExactSubstr-style) and rewrite the "
                        "surviving documents before mixing/packing")
    p.add_argument("--warc-in", default=None, metavar="PATH",
                   help="ingest documents from WARC files under PATH "
                        "(Common Crawl layout; sources/warc.py) instead of "
                        "the sf-dir documents table — HTTP response bodies "
                        "become (doc_id, url, text) rows; requires --langid "
                        "(a crawl has no lang column) and composes with "
                        "--url-col url for the hygiene stages")
    p.add_argument("--html-extract", action="store_true",
                   help="with --warc-in: run jusText main-content "
                        "extraction (operators/extraction.py) on the "
                        "decoded pages — block segmentation, link-density/"
                        "stopword classification, context revision — and "
                        "keep only documents with at least one good block, "
                        "their text replaced by the extracted main text "
                        "(the boilerplate-aware alternative to the flat "
                        "--strip-markup)")
    p.add_argument("--link-graph", action="store_true",
                   help="with --warc-in and --out: extract outlinks from "
                        "the decoded pages BEFORE any text stage and write "
                        "the host-level link graph (src_host, dst_host, "
                        "n_links, n_docs) to host_edges/ — the edge set "
                        "PageRank/HITS/k-core consume and crawl-politeness "
                        "budgeting reads")
    p.add_argument("--frontier", action="store_true",
                   help="with --warc-in: discover the NEXT crawl batch — "
                        "canonicalized outlink targets not yet in the "
                        "canonical-URL store ({store-prefix}_urls if it "
                        "exists, else built from this batch), with "
                        "citation evidence counts; written to frontier/ "
                        "under --out")
    p.add_argument("--frontier-host-cap", type=int, default=None,
                   metavar="N",
                   help="with --frontier: keep at most N frontier URLs per "
                        "destination host (best-evidenced first — the "
                        "politeness budget; two-phase salted top-k)")
    p.add_argument("--url-col", default=None, metavar="COL",
                   help="documents column holding each doc's source URL — "
                        "enables the URL/host front-door stages below "
                        "(canonicalization is always implied by them)")
    p.add_argument("--url-dedup", action="store_true",
                   help="with --url-col: keep one doc (min id) per "
                        "CANONICAL url (q175's operator) BEFORE any text "
                        "stage — the C4/RefinedWeb front door")
    p.add_argument("--host-cap", type=int, default=None, metavar="N",
                   help="with --url-col: keep at most N docs per "
                        "www-stripped host (q177's skew-safe two-phase "
                        "hash sample), after --url-dedup")
    p.add_argument("--langid", action="store_true",
                   help="classify each document's language with the "
                        "char-n-gram profile classifier (q174's operator, "
                        "Cavnar & Trenkle) and use the PREDICTION as the "
                        "lang column for every per-language stage "
                        "(--adaptive-quality, --mixture, --epoch-budget) — "
                        "the front-door stage a real crawl needs, since it "
                        "has no trusted lang column; the input's own lang "
                        "column (when present) is kept as lang_label")
    p.add_argument("--code-route", type=int, default=None,
                   metavar="THRESHOLD_X10K",
                   help="route documents whose code-likeness score x10^4 "
                        "(q183's operator; 1500 is the tested default "
                        "boundary) meets the threshold OUT of the prose "
                        "pipeline — they are counted in the summary and "
                        "(with --out) written to code_docs/ instead of "
                        "flowing through the text dedup/quality stages "
                        "(The Stack/RedPajama posture: code is its own "
                        "pipeline with its own dedup granularity)")
    p.add_argument("--adaptive-quality", default=None, metavar="NUM/DEN",
                   help="per-language exact-quantile quality cutoff (e.g. "
                        "1/4 keeps each language's top 75%% by heuristic "
                        "score — q131's operator)")
    p.add_argument("--soft-quality", default=None,
                   metavar="LO:HI[:FLOOR_X10K]",
                   help="quality-PROPORTIONAL soft sampling (q184's "
                        "operator): keep-probability ramps linearly from "
                        "FLOOR_X10K/10^4 (default 1000) at score<=LO to 1 "
                        "at score>=HI — the FineWeb-style alternative to "
                        "--adaptive-quality's hard per-language cutoff; "
                        "deterministic md5-draw selection")
    p.add_argument("--min-lm-score", type=int, default=None, metavar="X10K",
                   help="drop docs whose corpus-self-trained bigram LM "
                        "score (x10k) is below this floor (the "
                        "perplexity-filter stage)")
    p.add_argument("--shards", type=int, default=None,
                   help="emit the final deterministic shuffle-and-shard "
                        "layout of the surviving corpus (with --out, "
                        "written as parquet partitioned by shard)")
    p.add_argument("--bpe-merges", type=int, default=None,
                   help="learn this many BPE merges on the post-hygiene "
                        "survivors (pair-delta trainer) and tokenize the "
                        "survivor corpus with them; with --out, the merge "
                        "table and per-doc token counts land as parquet")
    p.add_argument("--unigram-vocab", type=int, default=None, metavar="K",
                   help="train a unigram-LM (SentencePiece-style) vocab on "
                        "the survivors (seed 2K multi-char pieces, EM-prune "
                        "to K) and report per-corpus subword piece counts; "
                        "with --out, writes the vocab and the per-word "
                        "segmentation table")
    p.add_argument("--textrank", type=int, default=None, metavar="K",
                   help="report the K highest-centrality corpus keywords "
                        "(TextRank over the survivors' co-occurrence "
                        "graph, exact-integer PageRank); with --out, the "
                        "keyword table lands as parquet")
    p.add_argument("--wordpiece-merges", type=int, default=None, metavar="N",
                   help="learn N WordPiece merges on the post-hygiene "
                        "survivors (likelihood-criterion pair-delta "
                        "trainer) and tokenize the survivor corpus by "
                        "greedy longest-match against the learned "
                        "vocabulary; with --out, the vocab and per-doc "
                        "token counts land as parquet")
    p.add_argument("--pq-index", default=None, metavar="TABLE",
                   help="persist an IVF-PQ ANN index (vector_store."
                        "build_pq_store: frozen coarse cells + m-int code "
                        "rows, bucketed by cell; codebooks TRAINED on the "
                        "survivors' residuals and persisted as TABLE_cb) of "
                        "the SURVIVING documents' embeddings under this "
                        "managed-table name — the retrieval-ready sidecar "
                        "of a cleaned corpus")
    p.add_argument("--pq-kc", type=int, default=8, metavar="KC",
                   help="IVF-PQ geometry: number of coarse cells "
                        "(default 8; rule of thumb ~sqrt(N) at scale)")
    p.add_argument("--pq-m", type=int, default=4, metavar="M",
                   help="IVF-PQ geometry: subvectors per code — m ints "
                        "replace the float vector at rest (default 4)")
    p.add_argument("--pq-subdim", type=int, default=16, metavar="D",
                   help="IVF-PQ geometry: dimensions per subvector; "
                        "m*subdim must equal the embedding dim "
                        "(default 16, i.e. 4x16=64)")
    p.add_argument("--pq-buckets", type=int, default=8, metavar="B",
                   help="bucket count of the persisted code table on "
                        "cluster_id — size so each bucket's postings fit "
                        "an executor at the target corpus (default 8)")
    p.add_argument("--bm25-index", default=None, metavar="TABLE",
                   help="persist a BM25 inverted index (retrieval."
                        "build_bm25_store: w-bucketed postings + frozen "
                        "corpus stats) of the SURVIVING documents under "
                        "this managed-table name — the lexical sidecar of "
                        "a cleaned corpus, probed with bm25_store_search "
                        "and grown later with append_bm25_postings")
    p.add_argument("--bm25-forward", action="store_true",
                   help="with --bm25-index: also persist the doc_id-"
                        "bucketed {TABLE}_fwd forward companion, the "
                        "bucket-pruned access path of PRF's feedback "
                        "fetch (costs one extra write of the index size)")
    p.add_argument("--quality-model-dim", type=int, default=None,
                   help="train a fasttext-style quality classifier at this "
                        "hashed-TF dimension (weak labels bootstrapped from "
                        "the heuristic score) and score every document")
    p.add_argument("--incremental-filter", default=None,
                   help="SQL predicate selecting the NEW batch (e.g. "
                        "'doc_id %% 5 = 0'); the rest of the corpus becomes "
                        "the persisted history and the batch dedups against "
                        "it via the store loop (exact digests first, MinHash "
                        "second), then its signatures join the stores")
    p.add_argument("--audit-sidecars", action="store_true",
                   help="after building/appending --bm25-index/--pq-index, "
                        "run the store integrity audits (retrieval."
                        "audit_bm25_store / vector_store.audit_pq_store) "
                        "and record their counters in the summary — the "
                        "fsck step of the sidecar lifecycle")
    p.add_argument("--sweep-warehouse", action="store_true",
                   help="before any stage: remove dead sessions' "
                        "pid-suffixed private store copies from the "
                        "warehouse (io.sweep_dead_private_copies — the "
                        "maintenance sweep for the private-copy publish "
                        "protocol); counts land in the summary")
    p.add_argument("--store-prefix", default="corpus_store",
                   help="table-name prefix for the persisted stores")
    p.add_argument("--bloom-bits", type=int, default=None,
                   help="maintain a Bloom sidecar of this many bits (a "
                        "multiple of 64; ~10x expected distinct digests "
                        "for ~1%% fp) next to the digest store, so each "
                        "batch's definite-novel rows skip the store join "
                        "map-side; appended in lockstep with the digests")
    p.add_argument("--bloom-shards", type=int, default=None,
                   help="with --bloom-bits: build/maintain the SHARDED "
                        "sidecar form with this many shards (--bloom-bits "
                        "then per shard) — the >4M-key posture where the "
                        "monolithic one-row bitmap goes heap-bound; admit "
                        "decisions are byte-identical either way")
    p.add_argument("--compact-stores", action="store_true",
                   help="after appending, compact the stores back to one "
                        "file per bucket (run periodically — every append "
                        "adds num_buckets files)")
    args = p.parse_args(argv)

    from albedo_spark.functions.text import pii_counts, redact_pii
    from albedo_spark.io import load_table
    from albedo_spark.operators.dedup import (
        exact_duplicates,
        jaccard_verify,
        minhash_lsh_pairs,
    )
    from albedo_spark.operators.textstats import (
        fingerprint,
        lang_id,
        ngram_contamination,
        quality_score_x10k,
        repetition_signals,
        token_count,
    )
    from albedo_spark.session import get_spark

    spark = get_spark("corpus-job", shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Summary parts of the stages that run before the per-doc stats; they
    # land after the core numbers.
    front = {}
    if args.sweep_warehouse:
        from albedo_spark.io import sweep_dead_private_copies

        sw = sweep_dead_private_copies(spark)
        front["warehouse_sweep"] = {
            "n_swept": len(sw["swept"]),
            "kept_live": sw["kept_live"],
            "kept_fresh": sw["kept_fresh"],
            "kept_recent": sw["kept_recent"],
        }

    if args.warc_in:
        # Crawl-native input: WARC responses -> (doc_id, url, text).
        # Every per-language stage downstream needs --langid because a
        # crawl carries no label column — fail here, not 500 lines in.
        if not args.langid:
            raise ValueError(
                "--warc-in requires --langid: WARC documents have no "
                "lang column and every per-language stage needs one"
            )
        from albedo_spark.sources.warc import (
            read_warc_records,
            warc_text_documents,
        )

        docs = warc_text_documents(read_warc_records(spark, args.warc_in))
        if args.link_graph:
            # Link extraction runs on the RAW decoded pages (before
            # extraction/stripping deletes the anchors) — the crawl
            # graph is a separate product from the text corpus.
            from albedo_spark.operators.extraction import (
                anchor_text_corpus,
                host_link_edges,
            )

            edges = host_link_edges(
                docs, url_col="url", html_col="text"
            ).persist()
            n_edges, n_links = edges.agg(F.count("*"), F.sum("n_links")).first()
            front["link_graph"] = {"n_edges": n_edges, "n_links": n_links}
            # The anchor corpus rides the same extraction (r15, VERDICT
            # r14 missing 2b): how the web describes each host — the
            # searchable field a BM25 store composes next to own-text
            # (pytest pins a page found by words it never contains).
            anchors = anchor_text_corpus(
                docs, url_col="url", html_col="text"
            ).persist()
            front["link_graph"]["n_anchor_targets"] = anchors.count()
            if args.out:
                edges.write.mode("overwrite").parquet(
                    os.path.join(args.out, "host_edges")
                )
                anchors.write.mode("overwrite").parquet(
                    os.path.join(args.out, "anchor_corpus")
                )
            anchors.unpersist()
        if args.frontier:
            # Frontier discovery on the RAW decoded pages (r15 — the
            # step that closes the crawl loop): outlink targets not yet
            # in the canonical-URL store become the next batch's fetch
            # list. Reuses the incremental loop's store when one exists
            # (so the frontier respects ALL crawl history); a fresh run
            # bootstraps the store from this batch alone.
            from albedo_spark.operators.dedup_store import build_url_store
            from albedo_spark.operators.extraction import crawl_frontier

            f_tbl = f"{args.store_prefix}_urls"
            if not spark.catalog.tableExists(f_tbl):
                build_url_store(docs, f_tbl, url_col="url")
            frontier = crawl_frontier(
                docs, f_tbl, url_col="url", html_col="text",
                per_host_cap=args.frontier_host_cap,
            ).persist()
            front["frontier"] = {
                "n_frontier_urls": frontier.count(),
                "n_frontier_hosts": frontier.select("host")
                .distinct()
                .count(),
            }
            if args.out:
                frontier.write.mode("overwrite").parquet(
                    os.path.join(args.out, "frontier")
                )
            frontier.unpersist()
        if args.html_extract:
            # Block-aware extraction instead of flat tag-stripping: navs,
            # footers and link farms never enter the corpus, so the
            # text-level dedup/quality stages downstream see main content
            # only. Pages with no good block are dropped here (the
            # jusText verdict: all boilerplate).
            #
            # Language FIRST (r15, VERDICT r14 missing 2c): jusText is a
            # stopword-density classifier, so the langid prediction must
            # exist BEFORE extraction to pick each page's stopword list
            # (non-English pages under the English list read density ~0
            # and over-drop). Classification runs on the flat-stripped
            # page (markup grams would poison the profile match); the
            # prediction sticks as `lang` so the later langid stage
            # skips, and languages with no list (zh, und) extract in
            # the paper's degenerate stopword-free mode.
            from albedo_spark.operators.extraction import html_main_text

            extract_kw = {}
            if args.langid:
                from albedo_spark.functions.text import strip_markup
                from albedo_spark.operators.textstats import langid_chargram

                flat = docs.select(
                    "doc_id", strip_markup(F.col("text")).alias("text")
                )
                pred = langid_chargram(flat)
                docs = docs.join(
                    pred.select(
                        "doc_id", F.col("lang_pred").alias("lang")
                    ),
                    "doc_id",
                    "left",
                ).withColumn(
                    "lang", F.coalesce(F.col("lang"), F.lit("und"))
                )
                extract_kw = {"lang_col": "lang"}

            main = html_main_text(docs, html_col="text", **extract_kw)
            docs = (
                docs.drop("text")
                .join(main.select("doc_id", F.col("main_text").alias("text")),
                      "doc_id")
            )
    elif args.html_extract:
        raise ValueError("--html-extract requires --warc-in (it runs on "
                         "decoded crawl pages, not the fixture corpus)")
    elif args.link_graph:
        raise ValueError("--link-graph requires --warc-in (links come "
                         "from decoded crawl pages)")
    elif args.frontier:
        raise ValueError("--frontier requires --warc-in (frontier "
                         "targets come from decoded crawl pages)")
    else:
        docs = load_table(spark, args.sf_dir, "documents")

    if args.url_col and (args.url_dedup or args.host_cap):
        # URL/host front door (VERDICT r13 #4): runs BEFORE any text
        # stage — a page fetched twice under tracking-param/fragment
        # noise should cost one pass through everything below, and
        # host caps keep boilerplate farms from dominating the corpus.
        if args.url_col not in docs.columns:
            raise ValueError(
                f"--url-col {args.url_col!r} is not a documents column "
                f"(have {docs.columns})"
            )
        from albedo_spark.operators.dedup import host_cap_sample, url_dedup

        # A stage's count fills the persisted frame the next stage reads,
        # so url_dedup and the host cap each run once.
        url = front["url_hygiene"] = {"n_before": docs.count()}
        if args.url_dedup:
            docs = url_dedup(docs, url_col=args.url_col).persist()
            url["n_after_url_dedup"] = docs.count()
        if args.host_cap:
            docs = host_cap_sample(
                docs, url_col=args.url_col, cap=args.host_cap
            ).persist()
            url["host_cap"] = args.host_cap
            url["n_after_host_cap"] = docs.count()

    markup_cached = None
    if args.strip_markup:
        # Front door: every later stage (stats, dedup, LM, tokenizer)
        # sees extracted text, never the HTML shell. Persisted because
        # the whole pipeline fans out from it — re-running the regex
        # chain per consumer would multiply the one map-only pass.
        from albedo_spark.functions.text import strip_markup

        stripped = docs.select(
            "*",
            F.length("text").alias("_rawlen"),
            strip_markup(F.col("text")).alias("_clean"),
        )
        ratio = F.when(
            F.col("_rawlen") > 0,
            F.floor(
                (F.col("_rawlen") - F.length("_clean")).cast("double")
                / F.col("_rawlen") * 10000.0 + 0.5
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        markup_cached = (
            stripped.withColumn("_markup_x10k", ratio)
            .drop("text", "_rawlen")
            .withColumnRenamed("_clean", "text")
            .persist()
        )
        docs = markup_cached.drop("_markup_x10k")

    if args.langid and "lang" in docs.columns and args.html_extract:
        # The WARC+extraction path already predicted language (before
        # extraction, to drive stopword selection) — the prediction
        # sticks; re-classifying the EXTRACTED text would let the two
        # stages disagree about a page's language mid-pipeline.
        pass
    elif args.langid:
        # Front-door language ID (VERDICT r13 #3): every per-language
        # stage below groups on `lang` — a real crawl has no such
        # column, so predict it here (q174's char-n-gram classifier;
        # frozen profiles broadcast, corpus touched once, truncated)
        # and keep any existing label for eval as `lang_label`.
        from albedo_spark.operators.textstats import langid_chargram

        pred = langid_chargram(docs)
        if "lang" in docs.columns:
            docs = docs.withColumnRenamed("lang", "lang_label")
        docs = docs.join(
            pred.select("doc_id", F.col("lang_pred").alias("lang")),
            "doc_id",
            "left",
        ).withColumn("lang", F.coalesce(F.col("lang"), F.lit("und")))

    if args.code_route is not None:
        # Domain routing before the text stages: code's dedup
        # granularity, mixture weight and quality rules all differ, so
        # it leaves the prose pipeline here (one map-only score — a
        # scan-speed projection, plan-pinned in test_plans.py).
        from albedo_spark.operators.textstats import code_likeness_x10k

        scored_code = docs.withColumn(
            "_code_x10k", code_likeness_x10k(F.col("text"))
        ).persist()
        code_docs = scored_code.where(F.col("_code_x10k") >= args.code_route)
        front["code_route"] = {
            "threshold_x10k": args.code_route,
            "n_code_docs": code_docs.count(),
        }
        if args.out:
            code_docs.drop("_code_x10k").write.mode("overwrite").parquet(
                os.path.join(args.out, "code_docs")
            )
        docs = scored_code.where(
            F.col("_code_x10k") < args.code_route
        ).drop("_code_x10k")

    text = F.col("text")

    per_doc = docs.select(
        "doc_id",
        "lang",
        token_count(text).alias("n_tokens"),
        quality_score_x10k(text).alias("quality_x10k"),
        lang_id(text).alias("lang_pred"),
        *repetition_signals(text),
        fingerprint(text).alias("fp"),
        redact_pii(text).alias("text_clean"),
        *pii_counts(text),
    ).persist()

    dup_groups = exact_duplicates(docs)
    pairs = jaccard_verify(
        minhash_lsh_pairs(docs, num_hashes=8, rows_per_band=2, shingle_n=3,
                          max_bucket=200),
        docs, shingle_n=3, threshold=args.jaccard,
    ).persist()
    contam = ngram_contamination(
        docs, docs.where(F.col("doc_id") < args.probe_ids), n=3
    )
    # Post-hygiene corpus: contaminated docs drop out here, once; every
    # later stage reads the persisted survivors, and n_contaminated is
    # the row delta (contam holds one row per doc_id).
    survivors = docs.join(
        contam.where(F.col("contaminated_x10k") >= 8000).select("doc_id"),
        "doc_id",
        "left_anti",
    ).persist()
    n_clean = survivors.count()

    core = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.count(
            F.when(F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") > 0, 1)
        ).alias("n_pii_docs"),
        F.expr("percentile(quality_x10k, 0.5)").alias("median_quality_x10k"),
    ).first()
    summary = {
        "n_docs": core["n_docs"],
        "n_tokens": core["n_tokens"],
        "langs": {
            r["lang_pred"]: r["n"]
            for r in per_doc.groupBy("lang_pred").agg(F.count("*").alias("n")).collect()
        },
        "n_exact_dup_groups": dup_groups.count(),
        "n_near_dup_pairs": pairs.count(),
        "n_pii_docs": core["n_pii_docs"],
        "n_contaminated": core["n_docs"] - n_clean,
        "median_quality_x10k": core["median_quality_x10k"],
    }
    if args.langid:
        # agreement with the input's own label, when it has one —
        # diagnostic only (synthetic fixtures label randomly)
        labelled = "lang_label" in docs.columns
        match = F.col("lang") == F.col("lang_label") if labelled else F.lit(False)
        rows = docs.groupBy("lang").agg(
            F.count("*").alias("n"), F.count(F.when(match, 1)).alias("m")
        ).collect()
        summary["langid"] = {"langs": {r["lang"]: r["n"] for r in rows}}
        if labelled:
            summary["langid"]["n_label_match"] = sum(r["m"] for r in rows)
    for key in ("link_graph", "frontier", "code_route", "url_hygiene",
                "warehouse_sweep"):
        if key in front:
            summary[key] = front[key]
    if markup_cached is not None:
        # Exact integer mean (sum DIV count) — the catalog's
        # order-independent discipline, one aggregate.
        mean = markup_cached.agg(
            F.expr("sum(_markup_x10k) DIV count(*)")
        ).first()[0]
        summary["markup"] = {"mean_markup_x10k": int(mean or 0)}

    funnel = _Funnel(survivors, n_clean)
    if args.blocklist_phrases:
        # Blocklist hygiene (C4 policy: any hit drops the doc). The path
        # is dictionary-size-aware: a handful of terms is ONE map-only
        # word-boundary regex (q116); a big dictionary routes through the
        # q157 posting-join matcher keyed on each phrase's RAREST corpus
        # token (319.9x fewer candidates than first-token keying on
        # stopword-led dictionaries — tools/scale_phrase.py), because a
        # 10^6-phrase alternation regex is neither compilable nor
        # pushable. Both paths drop the same docs on punctuation-clean
        # corpora (pytest equivalence); they are map-only / one-bounded-
        # shuffle respectively at 100 TB.
        with open(args.blocklist_phrases) as fh:
            phrases = [ln.strip() for ln in fh if ln.strip()]
        if not phrases:
            raise ValueError(
                f"empty blocklist file {args.blocklist_phrases}"
            )
        if len(phrases) < args.phrase_regex_max:
            from albedo_spark.operators.textstats import blocklist_filter

            blk = {"path": "regex"}
            survivors = funnel.drop(
                blk, survivors,
                lambda d: blocklist_filter(d, phrases, max_hits=0),
            )
        else:
            from albedo_spark.operators.retrieval import phrase_match

            pf = spark.createDataFrame(
                [(i, ph.lower().split()) for i, ph in enumerate(phrases)],
                "phrase_id long, pt array<string>",
            )
            hit_ids = phrase_match(survivors, pf, key="rarest").select("doc_id")
            blk = {"path": "phrase_posting"}
            survivors = funnel.drop(
                blk, survivors,
                lambda d: d.join(hit_ids, "doc_id", "left_anti"),
            )
        blk["n_phrases"] = len(phrases)
        summary["blocklist_phrases"] = blk

    if args.near_dup_decontaminate:
        # The q118 stage: the same probe suite, near-dup granularity —
        # catches the reformatting leak class the verbatim n-gram check
        # misses (and re-flags the probes' own corpus copies at 1.0).
        from albedo_spark.operators.dedup_store import near_dup_decontaminate

        flagged = near_dup_decontaminate(
            docs,
            docs.where(F.col("doc_id") < args.probe_ids).select(
                F.col("doc_id").alias("probe_id"), "text"
            ),
            threshold=args.jaccard,
        )
        flagged_ids = flagged.select("doc_id").distinct()
        summary["near_dup_decontamination"] = {
            "n_flagged": flagged_ids.count(),
        }
        survivors = survivors.join(flagged_ids, "doc_id", "left_anti")

    if args.keeper_quality:
        # Canonicalization (q113's operator) of the verified near-dup
        # pairs; scores come from the persisted per_doc stats.
        survivors, summary["keeper_quality"] = _drop_non_keepers(
            survivors, pairs, per_doc
        )

    if args.containment_drop:
        # Quote/snippet hygiene (q146's operator): documents whose 3-gram
        # shingle set is (nearly) contained in another survivor leave the
        # corpus — the asymmetric near-dup decision symmetric Jaccard
        # can't express (drop the snippet, KEEP the container). Mutual
        # containment (identical shingle sets) keeps the smaller doc_id;
        # transitive chains resolve over successive runs (documented
        # hygiene-stage semantics, like the keeper election's).
        from albedo_spark.operators.dedup import containment_pairs

        c_num, c_den = (int(x) for x in args.containment_drop.split("/"))
        # max_df is the production guard (stop-shingles generate df²
        # candidate rows); applied consistently to sizes AND
        # intersections, so the result is true containment over the
        # reduced shingle universe — see containment_pairs docstring.
        cont = containment_pairs(
            survivors, n=3, threshold_num=c_num, threshold_den=c_den,
            max_df=1000,
        ).localCheckpoint(eager=False)
        drops = (
            cont.alias("f")
            .join(
                cont.alias("r"),
                (F.col("f.contained_id") == F.col("r.container_id"))
                & (F.col("f.container_id") == F.col("r.contained_id")),
                "left",
            )
            .where(
                F.col("r.contained_id").isNull()
                | (F.col("f.contained_id") > F.col("f.container_id"))
            )
            .select(F.col("f.contained_id").alias("doc_id"))
        )
        summary["containment_drop"] = {"threshold": args.containment_drop}
        survivors = funnel.drop(
            summary["containment_drop"], survivors,
            lambda d: d.join(drops, "doc_id", "left_anti"),
        )

    if args.ahash_dedup is not None:
        # Media-granularity dedup (q147's operator): the perceptual-hash
        # family member, wired the same way as --keeper-quality — pairs
        # close into components, each component keeps its highest-quality
        # member (ties -> smallest id). Complete at max_hamming <= 3 by
        # the 4-band pigeonhole; above that it is banded-LSH recall
        # (documented on the operator).
        from albedo_spark.sources.multimodal import (
            ahash_images,
            ahash_near_dup_pairs,
        )

        media = survivors.select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
        )
        a_pairs = ahash_near_dup_pairs(
            ahash_images(media), max_hamming=args.ahash_dedup
        )
        survivors, a_stats = _drop_non_keepers(survivors, a_pairs, per_doc)
        summary["ahash_dedup"] = {"max_hamming": args.ahash_dedup, **a_stats}

    if args.semdedup is not None:
        # Semantic dedup (SemDeDup — cluster-then-compare over document
        # embeddings): the q149 integer k-means buckets the survivors'
        # embeddings, pairs are compared by exact cosine ONLY within a
        # cluster (the Σ n_c² bound that replaces the |corpus|² scan —
        # the whole point of clustering first), pairs close into
        # components and each keeps its highest-quality member (the
        # --keeper-quality / --ahash-dedup election, q113's rule).
        # Docs without an embedding row are not judged and survive.
        from albedo_spark.functions.vectors import dot
        from albedo_spark.operators.clustering import (
            assign_clusters,
            integerize_embeddings,
            kmeans_fit,
        )
        from albedo_spark.operators.similarity import _with_norm

        emb = load_table(spark, args.sf_dir, "embeddings").join(
            survivors.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
        vectors = integerize_embeddings(emb).localCheckpoint(eager=False)
        cents = kmeans_fit(vectors, args.semdedup, 2)
        assign = assign_clusters(vectors, cents).select("vec_id", "cluster_id")
        side = _with_norm(emb, "embedding", "_n").join(assign, "vec_id")
        sa = side.select(
            "cluster_id", F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("_va"), F.col("_n").alias("_na"),
        )
        sb = side.select(
            "cluster_id", F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("_vb"), F.col("_n").alias("_nb"),
        )
        s_pairs = (
            sa.join(sb, "cluster_id")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine",
                F.when(
                    (F.col("_na") > 0) & (F.col("_nb") > 0),
                    dot(F.col("_va"), F.col("_vb"))
                    / (F.col("_na") * F.col("_nb")),
                ).otherwise(F.lit(0.0)),
            )
            .where(F.col("cosine") >= args.semdedup_cosine)
            .select("id_a", "id_b")
        )
        survivors, s_stats = _drop_non_keepers(survivors, s_pairs, per_doc)
        summary["semdedup"] = {
            "k": args.semdedup,
            "cosine": args.semdedup_cosine,
            **s_stats,
        }

    if args.span_dedup:
        # Substring-granular hygiene (q104's operator): cross-doc
        # repeated spans removed, documents rewritten in place — text
        # changes, rows survive, downstream stages see the cleaned text.
        from albedo_spark.operators.dedup import remove_repeated_spans

        cleaned = remove_repeated_spans(
            survivors, span_tokens=4, min_df=args.span_dedup
        )
        summary["span_dedup"] = {
            "min_df": args.span_dedup,
            "n_tokens_removed": int(
                cleaned.agg(F.sum("n_removed")).collect()[0][0] or 0
            ),
        }
        survivors = survivors.drop("text").join(
            cleaned.select("doc_id", "text"), "doc_id"
        )

    if args.min_lm_score is not None:
        # Statistical-LM selection (q105's operator): drop documents
        # whose corpus-self-trained bigram score falls below the floor —
        # the perplexity-filter stage; NULL-score docs (< 2 tokens) are
        # dropped too (nothing to judge, nothing to train on).
        from albedo_spark.operators.textstats import bigram_lm_scores

        keep_ids = bigram_lm_scores(survivors).where(
            F.col("score_x10k") >= args.min_lm_score
        ).select("doc_id")
        summary["lm_filter"] = {"min_score_x10k": args.min_lm_score}
        survivors = funnel.drop(
            summary["lm_filter"], survivors,
            lambda d: d.join(keep_ids, "doc_id", "left_semi"),
        )

    if args.adaptive_quality is not None:
        # Per-language adaptive quality cutoff (q131's operator): keep
        # documents at or above their OWN language's exact q-quantile of
        # the heuristic score — the CCNet posture; a single global floor
        # silently deletes whole languages.
        from albedo_spark.operators.quality import per_group_quantile_filter

        q_num, q_den = (int(x) for x in args.adaptive_quality.split("/"))
        scored = survivors.select(
            "doc_id", "lang", quality_score_x10k(F.col("text")).alias("_q")
        )
        kept = per_group_quantile_filter(
            scored, "_q", "lang", "doc_id", q_num=q_num, q_den=q_den
        ).select("doc_id")
        summary["adaptive_quality"] = {"quantile": args.adaptive_quality}
        survivors = funnel.drop(
            summary["adaptive_quality"], survivors,
            lambda d: d.join(kept, "doc_id", "left_semi"),
        )

    if args.soft_quality is not None:
        # Soft quality ramp (q184's operator) — runs where the hard
        # cutoff would, but keeps a calibrated fraction of the
        # borderline mass instead of a cliff.
        from albedo_spark.operators.sampling import soft_quality_sample

        parts = [int(x) for x in args.soft_quality.split(":")]
        lo, hi = parts[0], parts[1]
        floor_x10k = parts[2] if len(parts) > 2 else 1000
        summary["soft_quality"] = {
            "lo": lo,
            "hi": hi,
            "floor_x10k": floor_x10k,
        }
        survivors = funnel.drop(
            summary["soft_quality"], survivors,
            lambda d: soft_quality_sample(
                d.withColumn("_q", quality_score_x10k(F.col("text"))),
                "_q", "doc_id", lo=lo, hi=hi, floor_x10k=floor_x10k,
            ).drop("_q"),
        )

    if args.mixture:
        from albedo_spark.operators.sampling import mixture_sample

        weights = {
            k: int(v)
            for k, v in (pair.split("=") for pair in args.mixture.split(","))
        }
        survivors = mixture_sample(survivors, "lang", weights, key_col="doc_id")
        summary["mixture"] = {
            r["lang"]: r["n"]
            for r in survivors.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }

        if args.epoch_budget:
            # The q119 table over the MIXED corpus: what the sampled
            # mixture implies in passes-per-source at the training budget.
            from albedo_spark.operators.sampling import epoch_plan

            plan = epoch_plan(
                survivors.select(
                    "lang", token_count(F.col("text")).alias("n_tokens")
                ),
                "lang",
                weights,
                token_budget=args.epoch_budget,
            )
            summary["epoch_plan"] = {
                r["lang"]: {
                    "n_tokens": r["n_tokens"],
                    "target_tokens": r["target_tokens"],
                    "epochs_x10k": r["epochs_x10k"],
                }
                for r in plan.collect()
            }

    if args.pack_capacity:
        from albedo_spark.operators.packing import pack_sequences

        layout = pack_sequences(
            survivors.select(
                "doc_id", token_count(text).cast("long").alias("n_tok")
            ),
            capacity=args.pack_capacity,
        ).persist()
        n_packed, last_chunk = layout.agg(
            F.count("*"), F.max("last_chunk")
        ).first()
        summary["pack"] = {
            "capacity": args.pack_capacity,
            "n_docs_packed": n_packed,
            "n_chunks": 0 if last_chunk is None else last_chunk + 1,
        }
        if args.out:
            layout.write.mode("overwrite").parquet(
                os.path.join(args.out, "pack_layout")
            )

    if args.bpe_merges:
        # Tokenizer stage: learn on the post-hygiene survivors (training a
        # vocabulary on boilerplate/contaminated text bakes junk into it),
        # then tokenize those same survivors — the artifact pair a
        # pre-training pipeline ships (merge table + token budget).
        from albedo_spark.operators.bpe import encode_corpus, learn_bpe

        merges = learn_bpe(survivors, n_merges=args.bpe_merges)
        encoded = encode_corpus(survivors, merges).persist()
        n_docs, n_tokens = encoded.agg(F.count("*"), F.sum("n_tokens")).first()
        summary["bpe"] = {
            "n_merges": len(merges),
            "top_merges": [f"{l}+{r}" for l, r, _ in merges[:5]],
            "n_docs_encoded": n_docs,
            "total_tokens": int(n_tokens or 0),
        }
        if args.out:
            spark.createDataFrame(
                [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
                "rank int, left string, right string, weighted_count long",
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(args.out, "bpe_merges")
            )
            encoded.select("doc_id", "n_tokens").write.mode(
                "overwrite"
            ).parquet(os.path.join(args.out, "bpe_token_counts"))
        encoded.unpersist()

    if args.unigram_vocab:
        # The OTHER tokenizer family (q152/q155's operators): train a
        # unigram-LM vocabulary on the survivors (seed → one EM prune
        # round) and charge each surviving document its subword piece
        # count — the context-budget number a pre-training pipeline
        # plans with, next to --bpe-merges' merge-table equivalent.
        from albedo_spark.operators.bpe import word_frequencies
        from albedo_spark.operators.unigram import (
            train_unigram,
            viterbi_segment_words,
        )

        trained = train_unigram(
            survivors, seed_size=args.unigram_vocab * 2,
            prune_to=args.unigram_vocab,
        ).persist()
        seg = viterbi_segment_words(
            word_frequencies(survivors), trained
        ).persist()
        # corpus token budget under the TRAINED vocab: each distinct
        # word's piece count weighted by its corpus frequency
        n_words, n_pieces = seg.agg(
            F.count("*"), F.sum(F.col("n_pieces") * F.col("freq"))
        ).first()
        summary["unigram"] = {
            "vocab_size": trained.count(),
            "n_words_segmented": n_words,
            "total_pieces": int(n_pieces or 0),
        }
        if args.out:
            trained.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(args.out, "unigram_vocab")
            )
            seg.write.mode("overwrite").parquet(
                os.path.join(args.out, "unigram_segmentations")
            )
        seg.unpersist()
        trained.unpersist()

    if args.textrank:
        # Corpus keyword report (q163's operator): TextRank centrality
        # over the SURVIVORS' co-occurrence graph — a human-auditable
        # what-is-this-corpus-about artifact next to the profile stats.
        from albedo_spark.operators.textstats import textrank_keywords

        kw = textrank_keywords(survivors, k=args.textrank).persist()
        rows = kw.collect()
        summary["textrank"] = {
            "k": args.textrank,
            "n_keywords": len(rows),
            "top": [r.word for r in rows[:10]],
        }
        if args.out:
            kw.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(args.out, "textrank_keywords")
            )
        kw.unpersist()

    if args.wordpiece_merges:
        # The THIRD tokenizer family (q161's operator — BERT's trainer):
        # likelihood-criterion merges + greedy longest-match encoding,
        # shipping the same artifact pair as --bpe-merges (vocabulary +
        # per-doc token budget) so pipelines can compare tokenizers on
        # identical survivors.
        from albedo_spark.operators.wordpiece import (
            encode_corpus_wp,
            learn_wordpiece,
            wp_vocab,
        )

        wp_merges = learn_wordpiece(survivors, n_merges=args.wordpiece_merges)
        vocab = wp_vocab(survivors, wp_merges)
        wp_encoded = encode_corpus_wp(survivors, vocab).persist()
        n_docs, n_tokens = wp_encoded.agg(
            F.count("*"), F.sum("n_tokens")
        ).first()
        summary["wordpiece"] = {
            "n_merges": len(wp_merges),
            "vocab_size": len(vocab),
            "top_merges": [m[2] for m in wp_merges[:5]],
            "n_docs_encoded": n_docs,
            "total_tokens": int(n_tokens or 0),
        }
        if args.out:
            spark.createDataFrame(
                [(i, tok) for i, tok in enumerate(vocab)],
                "piece_id int, piece string",
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(args.out, "wordpiece_vocab")
            )
            wp_encoded.select("doc_id", "n_tokens").write.mode(
                "overwrite"
            ).parquet(os.path.join(args.out, "wordpiece_token_counts"))
        wp_encoded.unpersist()

    if args.pq_index:
        # Retrieval-ready sidecar (q153's operator): the cleaned corpus's
        # embeddings as a persisted IVF-PQ index — frozen coarse cells +
        # m-int code rows, probed later with pq_store_topk. Built AFTER
        # all drops so the index holds exactly the survivors. Codebooks
        # are TRAINED on the survivors' residuals by default (VERDICT r11
        # #1: the formula codebooks plateau at 0.16-0.44 recall@10 on the
        # builder's own probe while trained-residual reaches ~0.81 at the
        # same bit budget) and persist as the {table}_cb companion, so
        # every later probe/append picks them up automatically.
        from albedo_spark.operators.vector_store import (
            append_pq_vectors,
            build_pq_store,
        )

        s_emb = load_table(spark, args.sf_dir, "embeddings").join(
            survivors.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
        if args.incremental_filter:
            # Production loop (r13, the dedup-store loop's sidecar twin):
            # history builds the store ONCE (cells + codebooks train on
            # history and FREEZE — the store may not drift), and every
            # batch's surviving vectors APPEND against the frozen model,
            # replay-guarded by the shared admit core. Geometry flags
            # must match the build; the bucket layout is NOT a flag on
            # the append — it comes from the table's own catalog entry
            # (ADVICE r13 #4), so --pq-buckets only shapes the build.
            hist_ids = survivors.where(
                f"NOT ({args.incremental_filter})"
            ).select(F.col("doc_id").alias("vec_id"))
            batch_ids = survivors.where(args.incremental_filter).select(
                F.col("doc_id").alias("vec_id")
            )
            if not spark.catalog.tableExists(args.pq_index):
                build_pq_store(
                    s_emb.join(hist_ids, "vec_id", "left_semi"),
                    args.pq_index, kc=args.pq_kc, m=args.pq_m,
                    subdim=args.pq_subdim, num_buckets=args.pq_buckets,
                    codebooks="train",
                )
                mode = "build+append"
            else:
                mode = "append"
            append_pq_vectors(
                s_emb.join(batch_ids, "vec_id", "left_semi"),
                args.pq_index,
                m=args.pq_m,
                subdim=args.pq_subdim,
            )
        else:
            build_pq_store(s_emb, args.pq_index, kc=args.pq_kc, m=args.pq_m,
                           subdim=args.pq_subdim, num_buckets=args.pq_buckets,
                           codebooks="train")
            mode = "build"
        spark.catalog.refreshTable(args.pq_index)
        if args.audit_sidecars:
            from albedo_spark.operators.vector_store import audit_pq_store

            summary["pq_index_audit"] = audit_pq_store(spark, args.pq_index)
        from albedo_spark.io import table_num_buckets

        summary["pq_index"] = {
            "table": args.pq_index,
            "mode": mode,
            "n_vectors": spark.table(args.pq_index)
            .select("vec_id").distinct().count(),
            "kc": args.pq_kc,
            "m": args.pq_m,
            "subdim": args.pq_subdim,
            # the store's REAL layout (catalog), not the flag — in
            # append mode the flag may disagree with the build's
            "num_buckets": table_num_buckets(spark, args.pq_index),
            "codebooks": "trained_residual",
            "codebook_table": args.pq_index + "_cb",
        }

    if args.bm25_index:
        # Lexical sidecar (q127/q160's store): the cleaned corpus's BM25
        # inverted index, built AFTER all drops so it holds exactly the
        # survivors — the retrieval-ready twin of --pq-index's dense
        # sidecar. Grows later via append_bm25_postings (generations) or
        # run_to_bm25_store (streaming); rebuild-or-compact to refresh.
        from albedo_spark.operators.retrieval import (
            append_bm25_postings,
            build_bm25_store,
        )

        if args.incremental_filter:
            # Production loop (r13): history builds generation 0 once;
            # every batch's surviving docs land as one more GENERATION
            # (append_bm25_postings — replay-idempotent; readers merge
            # stats and recompute df, byte-identical to a rebuild).
            # compact_bm25_store is the maintenance story.
            if not spark.catalog.tableExists(args.bm25_index):
                build_bm25_store(
                    survivors.where(
                        f"NOT ({args.incremental_filter})"
                    ).select("doc_id", "text"),
                    args.bm25_index,
                    forward=args.bm25_forward,
                )
                bm_mode = "build+append"
            else:
                bm_mode = "append"
            append_bm25_postings(
                survivors.where(args.incremental_filter).select(
                    "doc_id", "text"
                ),
                args.bm25_index,
            )
        else:
            build_bm25_store(
                survivors.select("doc_id", "text"),
                args.bm25_index,
                forward=args.bm25_forward,
            )
            bm_mode = "build"
        spark.catalog.refreshTable(args.bm25_index)
        st = (
            spark.table(args.bm25_index + "_stats")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("dl_total").alias("_t"),
                F.count("*").alias("gens"),
            )
            .first()
        )
        if args.audit_sidecars:
            from albedo_spark.operators.retrieval import audit_bm25_store

            summary["bm25_index_audit"] = audit_bm25_store(
                spark, args.bm25_index
            )
        summary["bm25_index"] = {
            "table": args.bm25_index,
            "mode": bm_mode,
            "n_docs": int(st["n_docs"]),
            "avgdl_x100": (100 * int(st["_t"])) // int(st["n_docs"]),
            "n_generations": int(st["gens"]),
            "n_terms": spark.table(args.bm25_index)
            .select("w").distinct().count(),
            "forward": bool(args.bm25_forward),
        }

    if args.shards:
        # Final output layout (q108's operator): reproducible randomized
        # order in equal-ish shards, written partitioned by shard so a
        # trainer consumes shard directories sequentially.
        from albedo_spark.operators.sampling import shuffle_shards

        sharded = shuffle_shards(
            survivors, num_shards=args.shards, id_col="doc_id", salt="ep0"
        ).persist()  # two consumers: summary counts + the parquet write
        try:
            summary["shards"] = {
                "num_shards": args.shards,
                "per_shard": {
                    int(r["shard"]): r["n"]
                    for r in sharded.groupBy("shard")
                    .agg(F.count("*").alias("n"))
                    .collect()
                },
            }
            if args.out:
                (
                    sharded.orderBy("shard", "pos")
                    .write.mode("overwrite")
                    .partitionBy("shard")
                    .parquet(os.path.join(args.out, "shards"))
                )
        finally:
            sharded.unpersist()

    if args.incremental_filter:
        # The production pipeline LOOP: history is shingled/hashed once
        # into persisted bucketed stores; each batch pays only its own
        # hashing plus store-layout joins (no corpus rescan, no store
        # shuffle). Exact digests run first (cheapest — kills bulk dups),
        # MinHash incremental runs on the exact-novel survivors only.
        from albedo_spark.operators.dedup_store import (
            append_bloom,
            append_digests,
            append_signatures,
            append_urls,
            build_bloom_sidecar,
            build_digest_store,
            build_signature_store,
            build_url_store,
            dedup_incremental,
            exact_dedup_incremental,
            merge_bloom_generations,
            url_dedup_incremental,
        )

        hist = docs.where(f"NOT ({args.incremental_filter})")
        batch = docs.where(args.incremental_filter)
        summary_inc_url = None
        if args.url_col and args.url_col in docs.columns:
            # URL rung FIRST (VERDICT r14 missing 2a): a recrawl batch
            # drops already-fetched canonical URLs for one map-side
            # canonicalization + one store-layout join, BEFORE any text
            # rung shingles or even digests it. Same build-if-missing /
            # resolve / append lifecycle as the digest store below.
            url_tbl = f"{args.store_prefix}_urls"
            if not spark.catalog.tableExists(url_tbl):
                build_url_store(hist, url_tbl, url_col=args.url_col)
            url_blm = (
                f"{args.store_prefix}_urls_bloom" if args.bloom_bits
                else None
            )
            if url_blm and not spark.catalog.tableExists(url_blm):
                # Derived from the URL store — rebuildable, and the rung
                # where the sidecar pays most (every fetched page probes
                # this store; frontier crawls are mostly-new). Sharded
                # form under --bloom-shards, like the digest rung.
                build_bloom_sidecar(
                    spark, url_tbl, url_blm, key_col="canonical_url",
                    num_bits=args.bloom_bits, num_shards=args.bloom_shards,
                )
            url_res = url_dedup_incremental(
                batch, url_tbl, url_col=args.url_col,
                bloom_table=url_blm,
            ).persist()
            n_url_batch = batch.count()
            n_url_dups = url_res.where("is_dup").count()
            summary_inc_url = {
                "n_batch_pre_url": n_url_batch,
                "n_url_dups": n_url_dups,
            }
            append_urls(url_res, url_tbl)
            if url_blm:
                # Lockstep (the no-false-negative contract): bits for
                # keys the admit guard skipped are already set — setting
                # them again is harmless OR-merge. The append follows the
                # EXISTING sidecar's form, never the flag.
                append_bloom(
                    url_res.where(
                        "NOT is_dup AND canonical_url IS NOT NULL"
                    ).select("canonical_url"),
                    url_blm,
                    key_col="canonical_url",
                )
            batch = batch.join(
                url_res.where("NOT is_dup").select("doc_id"),
                "doc_id",
                "left_semi",
            )
            url_res.unpersist()
        dig_tbl = f"{args.store_prefix}_digests"
        sig_tbl = f"{args.store_prefix}_minhash"
        blm_tbl = f"{args.store_prefix}_bloom" if args.bloom_bits else None
        # Build-if-missing: an existing store IS the history (including
        # every previously appended batch) — rebuilding would forget it.
        stores_built = not spark.catalog.tableExists(dig_tbl)
        if stores_built:
            build_digest_store(hist, dig_tbl)
            build_signature_store(hist, sig_tbl)
        if blm_tbl and not spark.catalog.tableExists(blm_tbl):
            # Rebuildable independently (derived from the digest store),
            # so a sidecar enabled mid-loop starts covering full history.
            build_bloom_sidecar(
                spark, dig_tbl, blm_tbl,
                num_bits=args.bloom_bits, num_shards=args.bloom_shards,
            )

        resolved = exact_dedup_incremental(
            batch, dig_tbl, bloom_table=blm_tbl
        ).persist()
        novel_ids = resolved.where("NOT is_dup").select("doc_id")
        novel = batch.join(novel_ids, "doc_id", "left_semi")
        near_pairs = dedup_incremental(novel, sig_tbl).persist()
        summary["incremental"] = {
            "n_batch": batch.count(),
            "n_exact_dups": resolved.where("is_dup").count(),
            "n_near_dup_pairs": near_pairs.count(),
            "stores_built": stores_built,
        }
        if summary_inc_url is not None:
            summary["incremental"]["url_rung"] = summary_inc_url
        append_digests(resolved, dig_tbl)
        append_signatures(novel, sig_tbl)
        if blm_tbl:
            # Lockstep with append_digests — same novel slice; skipping
            # this would plant false NEGATIVES for the next batch. The
            # append follows the EXISTING sidecar's form, not the flag,
            # so a loop that toggles --bloom-shards mid-history cannot
            # mix forms.
            append_bloom(
                resolved.where("NOT is_dup AND digest IS NOT NULL").select(
                    "digest"
                ),
                blm_tbl,
            )
        if args.out:
            near_pairs.write.mode("overwrite").parquet(
                os.path.join(args.out, "incremental_near_dup_pairs")
            )
        # Batch consumed (counts, appends, optional write): release both
        # cached frames so a scheduler running batch-per-invocation in one
        # long-lived session stays flat in executor storage.
        resolved.unpersist()
        near_pairs.unpersist()
        if args.compact_stores:
            from albedo_spark.io import compact_table

            summary["incremental"]["compaction"] = {
                "digests": compact_table(spark, dig_tbl),
                "minhash": compact_table(spark, sig_tbl),
            }
            if summary_inc_url is not None:
                summary["incremental"]["compaction"]["urls"] = (
                    compact_table(spark, f"{args.store_prefix}_urls")
                )
            if blm_tbl:
                summary["incremental"]["compaction"]["bloom_generations"] = (
                    merge_bloom_generations(spark, blm_tbl)
                )
                url_blm_tbl = f"{args.store_prefix}_urls_bloom"
                if spark.catalog.tableExists(url_blm_tbl):
                    summary["incremental"]["compaction"][
                        "url_bloom_generations"
                    ] = merge_bloom_generations(spark, url_blm_tbl)

    if args.quality_model_dim:
        # CCNet-style model-based quality stage: weak labels from the
        # heuristic's tails, linear model generalizes to the middle mass.
        from albedo_spark.pipelines.quality_model import (
            score_quality,
            train_quality_model,
            weak_quality_labels,
        )

        labeled = weak_quality_labels(docs)
        model = train_quality_model(labeled, dim=args.quality_model_dim)
        doc_scores = score_quality(
            model, docs, dim=args.quality_model_dim
        ).persist()
        hi = doc_scores.where(F.col("quality_prob") >= 0.5).count()
        summary["quality_model"] = {
            "dim": args.quality_model_dim,
            "n_labeled": labeled.count(),
            "n_docs_prob_ge_half": hi,
        }
        if args.out:
            doc_scores.write.mode("overwrite").parquet(
                os.path.join(args.out, "quality_scores")
            )

    if args.out:
        per_doc.write.mode("overwrite").parquet(os.path.join(args.out, "per_doc"))
        pairs.write.mode("overwrite").parquet(os.path.join(args.out, "near_dup_pairs"))
        summary["out"] = args.out
        if args.export_jsonl:
            # The interchange drop: the POST-hygiene corpus (every stage
            # above already applied to `survivors`), sized to the
            # consumer's parallelism.
            from albedo_spark.io import write_jsonl

            write_jsonl(
                survivors,
                os.path.join(args.out, "corpus_jsonl"),
                num_files=args.export_jsonl,
            )
            summary["export_jsonl"] = {"n_files": args.export_jsonl}
    if markup_cached is not None:
        markup_cached.unpersist()
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
