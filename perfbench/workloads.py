"""The two workloads. Each is a class with

- ``generate(seed)``: write its inputs under ``self.data`` (the
  benchmark's own work, outside every timed region); returns the input
  sizes;
- ``prepare(tracer)``: one-time set-up that ``setup_s`` covers;
- ``run_pass(tracer, p)``: timed pass ``p`` (1, 2, ...), every public
  call inside a span named ``<module>.<function>``; a pass reads
  requests of its own, so no pass can be answered from what an earlier
  one left behind;
- ``check()``: the output checks, outside every timed region; returns
  ``{check name: [failure messages]}``.

``op(tracer, name)`` wraps one operation: it opens the span and counts
an exception as a failed operation instead of ending the run. Only
public functions of ``albedo_spark`` are called.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import sys
import traceback

import pyarrow.parquet as pq

import gen

TOP_K = 30


class Workload:
    name = ""
    max_passes = 1          # most timed passes one run makes

    def __init__(self, spark, data_dir: str, nproc: int):
        self.spark = spark
        self.data = data_dir
        self.nproc = nproc
        self.attempted = 0
        self.failures: list[str] = []

    def prepare(self, tracer) -> None:
        pass

    @contextlib.contextmanager
    def op(self, tracer, name: str):
        self.attempted += 1
        with tracer.span(name) as sp:
            try:
                yield sp
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"{name} raised")


# ---------------------------------------------------------------- corpus

# The catalog's k-means round loop. q21 (MinHash-LSH + exact Jaccard) is
# left out: the CLI's near-duplicate stage runs the same operators with
# the same parameters, so ``jobs.corpus.main`` already times it.
QUERIES = {"q149": "q149_kmeans_clusters"}


class Corpus(Workload):
    """The corpus-building batch: the ``jobs.corpus.main`` CLI with the
    URL stages and packing, then the catalog's k-means clustering
    (q149) over an embeddings table."""

    name = "corpus"
    # One CLI run per process, as a user runs it: the timed pass is the
    # process's first, so a run never mixes a cold and a warm pass.
    max_passes = 1
    N_DOCS = 1000
    HOST_CAP = 40
    CAPACITY = 512
    N_VECTORS = 400

    def generate(self, seed: int) -> dict:
        self.manifest = gen.corpus(os.path.join(self.data, "corpus"), seed,
                                   self.N_DOCS, self.HOST_CAP)
        gen.embeddings(os.path.join(self.data, "catalog"), seed, self.N_VECTORS)
        self.out_dir = os.path.join(os.getcwd(), "corpus_out")
        self.summary = None
        self.hashes: dict = {}
        m = self.manifest
        return {"documents": m["n_docs"],
                "exact_dup_groups": len(m["exact_groups"]),
                "near_dup_pairs": len(m["near_pairs"]),
                "url_duplicates": m["n_url_duplicates"],
                "common_host_docs": m["common_host_docs"],
                "catalog_vectors": self.N_VECTORS}

    def run_pass(self, tracer, p: int) -> None:
        from albedo_spark.jobs import corpus as corpus_job
        from albedo_spark.queries import QUERIES as CATALOG
        from tools.check_correctness import table_hash

        argv = ["--sf-dir", os.path.join(self.data, "corpus"), "--out", self.out_dir,
                "--cpus", str(self.nproc),
                "--url-col", "url", "--url-dedup",
                "--host-cap", str(self.HOST_CAP),
                "--pack-capacity", str(self.CAPACITY)]
        with self.op(tracer, "jobs.corpus.main"):
            self.summary = corpus_job.main(argv)
        for short, q in QUERIES.items():
            # Collected, not a noop write: the rows feed the oracle check.
            with self.op(tracer, f"queries.{short}"):
                df = CATALOG[q](self.spark, os.path.join(self.data, "catalog"))
                self.hashes[short] = (sorted(df.columns), table_hash(
                    [tuple(r) for r in df.collect()], df.columns))

    def check(self) -> dict[str, list[str]]:
        return {"corpus": check_corpus(self.manifest, self.summary, self.out_dir,
                                       self.CAPACITY),
                "catalog": check_catalog(os.path.join(self.data, "catalog"),
                                         self.hashes)}


def check_corpus(m: dict, s: dict | None, out_dir: str, cap: int) -> list[str]:
    """Every planted exact duplicate is found, the planted near-duplicate
    pairs are recalled, the URL and host counts are the planted ones,
    and the packing is valid."""
    if s is None:
        return ["no summary"]
    fails = []
    per_doc = pq.read_table(os.path.join(out_dir, "per_doc")).to_pydict()
    fp = dict(zip(per_doc["doc_id"], per_doc["fp"]))
    for grp in m["exact_groups"]:
        if any(i not in fp for i in grp) or len({fp[i] for i in grp}) != 1:
            fails.append(f"planted exact duplicates {grp} not one group")
    if s["n_exact_dup_groups"] != len(m["exact_groups"]):
        fails.append(f"{s['n_exact_dup_groups']} exact-dup groups, "
                     f"planted {len(m['exact_groups'])}")
    pairs = pq.read_table(os.path.join(out_dir, "near_dup_pairs"),
                          columns=["id_a", "id_b"]).to_pydict()
    found = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    recalled = sum(1 for p in m["near_pairs"] if tuple(sorted(p)) in found)
    if recalled < 0.9 * len(m["near_pairs"]):
        fails.append(f"near-dup recall {recalled}/{len(m['near_pairs'])}")
    url = s.get("url_hygiene", {})
    want = {"n_before": m["n_docs"], "n_after_url_dedup": m["n_after_url_dedup"],
            "n_after_host_cap": m["n_after_host_cap"]}
    for k, v in want.items():
        if url.get(k) != v:
            fails.append(f"url_hygiene.{k} = {url.get(k)}, expected {v}")
    if s["n_docs"] != m["n_after_host_cap"]:
        fails.append(f"n_docs {s['n_docs']} != docs after host cap")
    layout = pq.read_table(os.path.join(out_dir, "pack_layout")).to_pylist()
    fails += check_packing(layout, cap, s["pack"], s["n_docs"] - s["n_contaminated"])
    return fails


def check_packing(layout: list[dict], cap: int, summary: dict, n_kept: int) -> list[str]:
    """Packed docs tile [0, total) without gaps; every chunk holds at most
    ``cap`` tokens; chunk ids follow from the offsets; the summary's
    counts agree with the layout."""
    fails = []
    rows = sorted(layout, key=lambda r: r["start_offset"])
    pos = 0
    chunk_tokens: dict[int, int] = {}
    for r in rows:
        if r["start_offset"] != pos:
            return [f"pack layout has a gap or overlap at offset {pos}"]
        end = pos + r["n_tok"]
        if r["n_tok"] > 0 and (r["first_chunk"] != pos // cap
                               or r["last_chunk"] != (end - 1) // cap):
            fails.append(f"doc at offset {pos}: chunk span does not match")
        a = pos
        while a < end:
            c = a // cap
            nxt = min(end, (c + 1) * cap)
            chunk_tokens[c] = chunk_tokens.get(c, 0) + nxt - a
            a = nxt
        pos = end
    if any(v > cap for v in chunk_tokens.values()):
        fails.append("a packed chunk exceeds capacity")
    if summary["n_chunks"] != (pos + cap - 1) // cap:
        fails.append(f"n_chunks {summary['n_chunks']} != ceil({pos}/{cap})")
    if not summary["n_docs_packed"] == len(rows) == n_kept:
        fails.append(f"packed {summary['n_docs_packed']} docs, layout {len(rows)}, "
                     f"kept {n_kept}")
    return fails


def check_catalog(sf_dir: str, got: dict) -> list[str]:
    """Each query's order-insensitive hash matches its DuckDB oracle."""
    import duckdb

    from albedo_spark.queries import ORACLE_SQL
    from tools.check_correctness import table_hash

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'embeddings')}.parquet'")
    fails = []
    for short, q in QUERIES.items():
        rel = con.sql(ORACLE_SQL[q])
        want = (sorted(rel.columns), table_hash(rel.fetchall(), rel.columns))
        if got.get(short) != want:
            fails.append(f"{q}: spark {got.get(short)} != oracle {want}")
    con.close()
    return fails


# ---------------------------------------------------------------- serve

# One pass: five reads with two appends between them, so the later
# reads see a two- and then a three-generation store, and the
# compaction that folds it back to one. Reads are the majority, as in
# a serving session; eight calls, not four, so that a short burst of
# host load moves the pass time less.
REQUESTS = ["keyword", "append", "mlt", "keyword", "append", "mlt",
            "keyword", "compact"]


class Serve(Workload):
    """A long-lived serving session. Set-up builds the persisted BM25
    store, builds the repo profiles and the popular list, trains ALS
    and validates it (top-30 for the eval users, NDCG@30). Each pass
    then serves keyword searches and "more like this" searches (a
    whole document as the query) with BM25 appends between them, and
    a compaction."""

    name = "serve"
    # One pass per run: a fixed amount of work, so the heap's growth and
    # with it peak_rss_mb do not depend on how fast the host runs.
    max_passes = 1
    N_USERS, N_REPOS = 300, 600
    ALS = dict(rank=8, maxIter=2)
    TODAY = dt.date(2017, 9, 1)
    N_DOCS, BATCH = 500, 20
    BM25 = "pb_bm25"

    def generate(self, seed: int) -> dict:
        self.rs = gen.recsys(os.path.join(self.data, "recsys"), seed,
                             self.N_USERS, self.N_REPOS)
        pool = self.max_passes * REQUESTS.count("append") * self.BATCH
        # Requests of pass p (1, 2, ...) are entry p; entry 0 feeds the
        # search check.
        self.manifest = gen.serve(os.path.join(self.data, "search"), seed,
                                  self.N_DOCS, pool,
                                  [REQUESTS] * (self.max_passes + 1))
        self.next_append = self.N_DOCS
        self.out: dict = {}
        return {"users": self.N_USERS, "repos": self.N_REPOS,
                "starring": self.rs["n_starring"],
                "eval_users": len(self.rs["eval_users"]),
                "store_docs": self.N_DOCS, "append_batch": self.BATCH,
                "append_pool": pool, "requests_per_pass": len(REQUESTS)}

    def _read(self, sub: str, name: str, schema=None):
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(os.path.join(self.data, sub, f"{name}.parquet"))

    def _docs(self):
        return self._read("search", "docs")

    def prepare(self, tracer) -> None:
        from pyspark.sql import functions as F

        from albedo_spark import schemas
        from albedo_spark.evaluators.ranking import (
            ranking_metrics_df, user_actual_items)
        from albedo_spark.operators.retrieval import build_bm25_store
        from albedo_spark.pipelines import build_repo_profile
        from albedo_spark.recommenders.als import train_als
        from albedo_spark.recommenders.popularity import build_popular_repo_df

        with self.op(tracer, "operators.retrieval.build_bm25_store"):
            build_bm25_store(self._docs().where(f"doc_id < {self.N_DOCS}"),
                             self.BM25, num_buckets=self.nproc)
        repo_info = self._read("recsys", "repo_info", schemas.REPO_INFO)
        self.starring = self._read("recsys", "starring", schemas.STARRING)
        with self.op(tracer, "pipelines.repo_profile"):
            self.profiled = {r.repo_id for r in build_repo_profile(
                repo_info, self.starring, today=self.TODAY,
                language_bin_threshold=5).select("repo_id").collect()}
        with self.op(tracer, "recommenders.popularity"):
            self.popular = [r.repo_id for r in build_popular_repo_df(
                repo_info).limit(TOP_K).collect()]
        with self.op(tracer, "recommenders.als.train_als"):
            self.als = train_als(self.starring, **self.ALS)
        # Validation before serving: top-30 for every eval user, NDCG@30.
        with self.op(tracer, "recommenders.als.recommendForUserSubset"):
            users = self.spark.createDataFrame(
                [(u,) for u in self.rs["eval_users"]], "user_id int")
            self.out["recs"] = self.als.recommendForUserSubset(users, TOP_K).collect()
        with self.op(tracer, "evaluators.ranking"):
            pred = self.spark.createDataFrame(
                [(r.user_id, [x.repo_id for x in r.recommendations])
                 for r in self.out["recs"]],
                "user_id int, pred_items array<int>")
            actual = user_actual_items(self.starring, k=TOP_K)
            self.out["ndcg"] = ranking_metrics_df(
                pred.join(actual, "user_id"), k=TOP_K).select(
                "user_id", "pred_items", "actual_items",
                F.col(f"ndcg_at_{TOP_K}").alias("ndcg")).collect()

    def _batch(self) -> str:
        lo = self.next_append
        self.next_append = lo + self.BATCH
        return f"BETWEEN {lo} AND {lo + self.BATCH - 1}"

    def run_pass(self, tracer, p: int) -> None:
        from albedo_spark.operators.retrieval import (
            append_bm25_postings, bm25_store_search, compact_bm25_store)

        spark = self.spark
        for i, req in enumerate(self.manifest["requests"][p]):
            kind = req["kind"]
            if kind in ("keyword", "mlt"):
                text = req["text"] if kind == "keyword" else \
                    self.manifest["texts"][req["doc_id"]]
                with self.op(tracer, "operators.retrieval.bm25_store_search"):
                    q = spark.createDataFrame([(i, text)], "query_id long, text string")
                    bm25_store_search(q, self.BM25, top_k=10).collect()
            elif kind == "append":
                where = self._batch()
                with self.op(tracer, "operators.retrieval.append_bm25_postings"):
                    append_bm25_postings(self._docs().where(f"doc_id {where}"),
                                         self.BM25)
            else:
                with self.op(tracer, "operators.retrieval.compact_bm25_store"):
                    compact_bm25_store(spark, self.BM25)

    def check(self) -> dict[str, list[str]]:
        return {"recsys": self.check_recsys(), "search": self.check_search()}

    def check_recsys(self) -> list[str]:
        fails = []
        users = self.rs["eval_users"]
        recs = self.out.get("recs", [])
        if sorted(r.user_id for r in recs) != users:
            fails.append("ALS recommendations do not cover the eval users")
        if any(len(r.recommendations) != TOP_K for r in recs):
            fails.append(f"an ALS recommendation list is not {TOP_K} long")
        fails += check_repo_profiles(os.path.join(self.data, "recsys"),
                                     self.profiled)
        fails += check_popular(os.path.join(self.data, "recsys"), self.popular)
        actual = expected_actual_items(os.path.join(self.data, "recsys"), TOP_K)
        rows = self.out.get("ndcg", [])
        if len(rows) != len(users):
            fails.append("ranking metrics do not cover the eval users")
        for r in rows:
            if list(r.actual_items) != actual[r.user_id]:
                fails.append(f"actual items of user {r.user_id} differ")
            want = ndcg_at_k(list(r.pred_items), list(r.actual_items), TOP_K)
            if not math.isclose(r.ndcg, want, rel_tol=1e-9, abs_tol=1e-12):
                fails.append(f"NDCG of user {r.user_id}: {r.ndcg} != {want}")
        return fails

    def check_search(self) -> list[str]:
        """After the passes the store holds the build plus every append,
        compacted; for sampled queries ``bm25_store_search`` must equal
        the in-memory ``bm25_search`` over every document the store has
        admitted."""
        from albedo_spark.operators.retrieval import bm25_search, bm25_store_search

        reqs = self.manifest["requests"][0]
        queries = [(i, r["text"]) for i, r in enumerate(reqs)]
        queries.append((len(reqs), self.manifest["texts"][reqs[0]["doc_id"]]))
        union = self._docs().where(f"doc_id < {self.next_append}")
        qdf = self.spark.createDataFrame(queries, "query_id long, text string")
        got = {tuple(r) for r in bm25_store_search(qdf, self.BM25, top_k=10)
               .select("query_id", "doc_id", "rank", "bm25_x10k").collect()}
        ref = {tuple(r) for r in bm25_search(self.spark, union, queries, top_k=10)
               .select("query_id", "doc_id", "rank", "bm25_x10k").collect()}
        if not got or got != ref:
            return [f"store search differs from in-memory BM25 on "
                    f"{len(got ^ ref)} of {len(ref)} rows"]
        return []


def check_repo_profiles(data_dir: str, profiled: set) -> list[str]:
    """Profiled repos pass the structural filters (no forks, at most
    90000 forks, 30..100000 stars), and every such repo whose
    description is one of the generator's neutral phrases is profiled."""
    t = pq.read_table(os.path.join(data_dir, "repo_info.parquet")).to_pylist()
    eligible = {r["repo_id"] for r in t if not r["repo_is_fork"]
                and r["repo_forks_count"] <= 90000
                and 30 <= r["repo_stargazers_count"] <= 100000}
    must = {r["repo_id"] for r in t if r["repo_id"] in eligible
            and r["repo_description"] in gen.NEUTRAL_DESCS}
    fails = []
    if not profiled <= eligible:
        fails.append(f"{len(profiled - eligible)} profiled repos fail the filters")
    if not must <= profiled:
        fails.append(f"{len(must - profiled)} plain repos missing from profiles")
    return fails


def check_popular(data_dir: str, popular: list[int]) -> list[str]:
    """The popular list is the top repos by stars within 1000..290000."""
    t = pq.read_table(os.path.join(data_dir, "repo_info.parquet"),
                      columns=["repo_id", "repo_stargazers_count"]).to_pydict()
    stars = dict(zip(t["repo_id"], t["repo_stargazers_count"]))
    ranked = sorted((s for s in stars.values() if 1000 <= s <= 290000), reverse=True)
    want = ranked[:TOP_K]
    got = sorted((stars.get(r, -1) for r in popular), reverse=True)
    return [] if got == want else [f"popular repos' stars {got[:5]}… != {want[:5]}…"]


def ndcg_at_k(pred: list, actual: list, k: int) -> float:
    """NDCG@k with binary relevance, as ``evaluators.ranking`` defines it."""
    rel = set(actual)
    dcg = sum(1.0 / math.log2(i + 2) for i, p in enumerate(pred[:k]) if p in rel)
    idcg = sum(1.0 / math.log2(i + 2) for i in range(min(len(actual), k)))
    return dcg / idcg if idcg > 0 else 0.0


def expected_actual_items(data_dir: str, k: int) -> dict[int, list[int]]:
    """Each user's k most recent stars, ties on the higher repo id."""
    t = pq.read_table(os.path.join(data_dir, "starring.parquet")).to_pydict()
    by_user: dict[int, list] = {}
    for u, r, ts in zip(t["user_id"], t["repo_id"], t["starred_at"]):
        by_user.setdefault(u, []).append((ts, r))
    return {u: [r for _, r in sorted(v, reverse=True)[:k]]
            for u, v in by_user.items()}


WORKLOADS = {w.name: w for w in (Corpus, Serve)}
