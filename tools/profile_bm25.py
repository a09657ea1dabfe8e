"""Phase-profile the BM25 serving family (q160 / q165 / q141) at a given
SF dir in ONE warm session — the round-16 measurement harness for
VERDICT r15 items 1 and 3.

Usage::

    python tools/profile_bm25.py [sf_dir]

Prints per-phase wall times: store resolution (fresh-process memo path),
each serving leg isolated with the noop sink, and repeat medians.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def t(label, fn, n=1):
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        runs.append(round(time.perf_counter() - t0, 3))
    print(f"{label}: {runs} median {statistics.median(runs)}", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from albedo_spark import queries as Q
    from albedo_spark.session import get_spark

    spark = get_spark("profile-bm25")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    docs = Q._t(spark, sf_dir, "documents")
    emb = Q._t(spark, sf_dir, "embeddings")

    # --- store resolution, exactly the fresh-process path q160 pays ---
    lex_table = t("resolve lex store (fresh process)",
                  lambda: Q._q160_bm25_store(spark, sf_dir, docs))
    pq_table = t("resolve pq store (fresh process)",
                 lambda: Q._q153_pq_store(spark, sf_dir, emb))
    t("resolve lex store (memo hit)",
      lambda: Q._q160_bm25_store(spark, sf_dir, docs), n=3)

    from albedo_spark.operators.retrieval import (
        bm25_store_prf_search,
        bm25_store_search,
        rrf_fuse,
    )
    from albedo_spark.operators.vector_store import pq_store_topk

    queries = docs.where("doc_id % 10 = 0").select(
        F.col("doc_id").alias("query_id"), "text"
    )

    # --- q160 legs isolated ---
    def lex_leg():
        noop(bm25_store_search(queries, lex_table, top_k=10))

    def dense_leg():
        noop(pq_store_topk(
            emb.where("vec_id % 10 = 0").select(
                F.col("vec_id").alias("query_id"), "embedding"
            ), pq_table, k=10, nprobe=2, m=4, subdim=16,
        ))

    def q160_full():
        noop(Q.QUERIES["q160_hybrid_store_serve"](spark, sf_dir))

    def q165_full():
        noop(Q.QUERIES["q165_bm25_prf_expansion"](spark, sf_dir))

    def q141_full():
        noop(Q.QUERIES["q141_rrf_fusion"](spark, sf_dir))

    spark.sparkContext.setJobDescription("warm: q160 legs")
    lex_leg(); dense_leg()  # warm-up both legs untimed
    t("lex leg (bm25_store_search top10)", lex_leg, n=5)
    t("dense leg (pq_store_topk top10)", dense_leg, n=5)
    t("q160 full", q160_full, n=5)

    # --- q165 decomposition ---
    from albedo_spark.operators.retrieval import (
        _bm25_contrib,
        _bm25_read_stats,
    )

    stats = _bm25_read_stats(spark, lex_table)
    print("multi_gen:", stats[2], flush=True)
    from albedo_spark.operators.textstats import tokens as _tok

    qterms = (
        queries.select(
            "query_id",
            F.explode(F.array_distinct(_tok(F.col("text")))).alias("w"),
        ).where(F.col("w") != "")
    )
    post = spark.table(lex_table)
    contribw = _bm25_contrib(spark, lex_table, qterms, stats)

    def fanout_only():
        noop(contribw.join(F.broadcast(qterms), "w"))

    def fanout_agg():
        noop(contribw.join(F.broadcast(qterms), "w")
             .groupBy("query_id", "doc_id").agg(F.sum("_c").alias("s")))

    def contrib_only():
        noop(contribw)

    print("postings rows:", post.count(),
          "qterm rows:", qterms.count(), flush=True)
    fanout_agg()  # warm
    t("contrib only (postings pass)", contrib_only, n=5)
    t("fanout join only", fanout_only, n=5)
    t("fanout join + (q,d) agg", fanout_agg, n=5)
    t("q165 full", q165_full, n=5)
    t("q141 full", q141_full, n=5)


if __name__ == "__main__":
    main()
