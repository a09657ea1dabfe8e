"""BM25 PRF feedback-fetch cost scaling: the round-13 forward-companion
claim measured (VERDICT r12 ask #3).

``bm25_store_prf_search``'s feedback fetch reads the stored tf rows of
|Q|·fb_docs documents. Against the w-bucketed posting table that is a
full scan per PRF call (the documented fallback). With the
``{table}_fwd`` forward companion the fetch filters the doc_id-bucketed
twin with a LITERAL isin over the (driver-bounded) feedback ids — the
one predicate form Spark's bucket pruning accepts — so the scan reads
only the feedback docs' buckets regardless of index size, plus parquet
row-group skipping inside them.

This probe isolates the FETCH (fixed 15-doc id set, sum of tf per doc)
against fabricated posting stores of growing size — rows are generated
directly in the store's at-rest shape so the sweep measures the fetch,
not the tokenizer. Per size point:

- ``fetch_scan_sec``: the fallback — broadcast join into the w-bucketed
  postings (every bucket scanned).
- ``fetch_fwd_sec``: the isin-filtered doc_id-bucketed companion.
- ``fwd_buckets`` / ``scan_buckets``: SelectedBucketsCount parsed from
  the executed plans — the 100 TB signal: the fwd path reads only the
  feedback ids' buckets (11/16 here, flat at any index size) while the
  fallback has no prunable predicate at all.

Both paths return identical rows (asserted per point; the pytest
equivalence pin is tests/test_retrieval.py).

Measured on this host (local[32], 16 buckets, 15 feedback ids,
doc_id Knuth-scrambled so file-order stats cannot flatter the
fallback):

    posting_rows   scan     fwd      fwd_buckets   scan_buckets
    1M             0.063s   0.047s   11/16         none pruned
    10M            0.052s   0.042s   11/16         none pruned
    40M            0.039s   0.035s   11/16         none pruned

WALL is flat on BOTH paths at these sizes — 40M narrow rows vectorize
through 32 local cores in ~40 ms, exactly the admit-probe lesson that
local wall under-sells a scan-shape fix. The PLAN is the claim: the
fwd fetch is bounded by the feedback set's buckets forever; the
fallback reads the whole posting table per PRF call, which at 100 TB
is the index, not 200 MB.

Usage::

    python tools/scale_bm25_fetch.py [n_posting_rows ...]
    # default: 1000000 10000000 40000000
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

NUM_BUCKETS = 16
FB_IDS = [7 * i + 3 for i in range(15)]  # fixed 15-doc feedback set


def posting_rows(spark, n_rows: int):
    """Deterministic (w, doc_id, tf, dl, df) rows in the BM25 store's
    at-rest shape: ~n_rows postings over n_rows/20 docs x ~20 terms.
    doc_id is Knuth-scrambled so it does NOT correlate with file order —
    a monotone id would hand the fallback free parquet row-group
    skipping (min/max stats + the runtime bloom-filter join) that a real
    posting table, laid out by TERM, never provides for a doc-id
    fetch."""
    n_docs = max(n_rows // 20, 1)
    return spark.range(n_rows).select(
        F.concat(F.lit("w"), (F.col("id") % 5000).cast("string")).alias("w"),
        ((F.col("id") * F.lit(2654435761)) % n_docs).alias("doc_id"),
        (F.col("id") % 7 + 1).cast("long").alias("tf"),
        F.lit(200).cast("long").alias("dl"),
        F.lit(100).cast("long").alias("df"),
    )


def fetch(frame):
    return (
        frame.groupBy("doc_id")
        .agg(F.sum("tf").alias("fbtf"))
        .orderBy("doc_id")
    )


def main() -> None:
    from albedo_spark.io import write_bucketed
    from albedo_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [1_000_000, 10_000_000, 40_000_000]
    spark = get_spark("scale-bm25-fetch", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    tbl = "bm25_fetch_probe"
    ids_df = spark.createDataFrame(
        [(i,) for i in FB_IDS], "doc_id long"
    ).localCheckpoint()

    for n in sizes:
        # rows are regenerated per write (deterministic range — cheaper
        # than holding 40M-row checkpoint blocks through two sorted
        # bucketed writes)
        for suf, key in (("", "w"), ("_fwd", "doc_id")):
            write_bucketed(
                posting_rows(spark, n), tbl + suf, key, num_buckets=NUM_BUCKETS
            )

        # fallback: broadcast join into the w-bucketed postings
        scan_q = fetch(spark.table(tbl).join(F.broadcast(ids_df), "doc_id"))
        scan_q.collect()  # warm
        t0 = time.perf_counter()
        got_scan = scan_q.collect()
        scan_sec = time.perf_counter() - t0

        # fwd: literal isin on the bucket column -> bucket pruning
        fwd_q = fetch(spark.table(tbl + "_fwd").where(F.col("doc_id").isin(FB_IDS)))
        fwd_q.collect()  # warm
        t0 = time.perf_counter()
        got_fwd = fwd_q.collect()
        fwd_sec = time.perf_counter() - t0

        assert [tuple(r) for r in got_scan] == [tuple(r) for r in got_fwd]
        plan = fwd_q._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        scan_plan = scan_q._jdf.queryExecution().executedPlan().toString()
        m_scan = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)", scan_plan
        )
        print(
            json.dumps(
                {
                    "posting_rows": n,
                    "fetch_scan_sec": round(scan_sec, 3),
                    "fetch_fwd_sec": round(fwd_sec, 3),
                    "fwd_buckets": m.group(0) if m else None,
                    "scan_buckets": m_scan.group(0) if m_scan else "all (no pruning)",
                    "n_fetched": len(got_fwd),
                }
            )
        )
        assert m and int(m.group(1)) < int(m.group(2))

    for suf in ("", "_fwd"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}{suf}")


if __name__ == "__main__":
    main()
