"""Incremental-dedup scaling: the round-6 claim measured.

``scale_bench.py`` shows the FULL self-join curve (wall grows with corpus
size: ~12 s at 50k docs, ~65 s at 500k on the r5 host). The persisted
signature store exists so a new batch does NOT pay that curve: history is
shingled once into a bucketed store, and each batch pays its own hashing
plus store-layout joins. This probe measures exactly that:

for each corpus size N (decorrelated replicas, as in scale_bench):
  1. build_signature_store over the N-doc history   (one-time, timed)
  2. dedup_incremental of a FIXED batch (the base corpus re-sent with
     offset ids — every batch doc near-dups its replica-0 twin, so the
     pair output is constant across N)                (per-batch, timed)

The claim holds if (2) stays ~flat while N grows 10× — the batch cost is
bounded by batch hashing + matched-bucket joins, not corpus size.

After the size sweep, the probe measures the COMPACTION claim
(``io.compact_table``'s docstring): each ``append_signatures`` adds one
file per bucket, so an N-batch store accumulates N×buckets small files
and scan planning degrades; a shuffle-free compaction folds them back to
one file per bucket and the per-batch probe cost returns to its
pre-fragmentation baseline. Cycle: probe on the fresh store → append the
batch 8× → re-probe (fragmented) → ``compact_table`` → re-probe.

Usage::

    python tools/scale_incremental.py [n_copies ...]   # default: 10 100

One JSON line per size point:
``{"n_hist": ..., "build_sec": ..., "n_batch": ..., "incremental_sec": ...,
   "n_pairs": ...}``
then one line for the compaction cycle:
``{"phase": "compaction", "files_fresh": ..., "probe_fresh_sec": ...,
   "files_fragmented": ..., "probe_fragmented_sec": ...,
   "compact_sec": ..., "files_compacted": ..., "probe_compacted_sec": ...}``
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scale_bench import replicate  # noqa: E402


def main() -> None:
    from albedo_spark import io
    from albedo_spark.operators.dedup_store import (
        build_signature_store,
        dedup_incremental,
    )
    from albedo_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    points = [int(a) for a in sys.argv[1:]] or [10, 100]

    spark = get_spark("scale-incremental")
    spark.sparkContext.setLogLevel("ERROR")
    base = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = base.select(
        (F.col("doc_id") + F.lit(1_000_000_000).cast("long")).alias("doc_id"),
        "text",
    ).persist()
    n_batch = batch.count()

    for n_copies in points:
        hist = io.widen(replicate(base, n_copies)).persist()
        n_hist = hist.count()
        t0 = time.perf_counter()
        build_signature_store(hist, "scale_sigstore", num_buckets=32)
        build_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_pairs = dedup_incremental(
            batch, "scale_sigstore", max_bucket=200
        ).count()
        inc_sec = round(time.perf_counter() - t0, 2)
        hist.unpersist()
        print(
            json.dumps(
                {
                    "n_hist": n_hist,
                    "build_sec": build_sec,
                    "n_batch": n_batch,
                    "incremental_sec": inc_sec,
                    "n_pairs": n_pairs,
                }
            )
        )
    # ---- compaction cycle on the last store ----
    from albedo_spark.io import compact_table
    from albedo_spark.operators.dedup_store import append_signatures

    def n_files() -> int:
        return (
            spark.table("scale_sigstore")
            .select(F.col("_metadata.file_path"))
            .distinct()
            .count()
        )

    def probe() -> float:
        t0 = time.perf_counter()
        dedup_incremental(batch, "scale_sigstore", max_bucket=200).count()
        return round(time.perf_counter() - t0, 2)

    files_fresh = n_files()
    probe_fresh = probe()
    # Appended batches are shingle-distinct gibberish (md5 words keyed by
    # id and round): they fragment the store WITHOUT adding matches for
    # the fixed probe batch, so any probe slowdown is pure
    # file-count/scan-planning cost — the thing compaction reclaims.
    for k in range(8):
        filler = spark.range(n_batch).select(
            (F.col("id") + F.lit((k + 1) * 10_000_000).cast("long")
             ).alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.md5(F.concat(
                        F.col("id").cast("string"), F.lit(f"_{k}_{i}")
                    ))
                    for i in range(12)
                ],
            ).alias("text"),
        )
        append_signatures(filler, "scale_sigstore")
    files_frag = n_files()
    probe_frag = probe()
    t0 = time.perf_counter()
    compact_table(spark, "scale_sigstore")
    compact_sec = round(time.perf_counter() - t0, 2)
    files_comp = n_files()
    probe_comp = probe()
    print(
        json.dumps(
            {
                "phase": "compaction",
                "files_fresh": files_fresh,
                "probe_fresh_sec": probe_fresh,
                "files_fragmented": files_frag,
                "probe_fragmented_sec": probe_frag,
                "compact_sec": compact_sec,
                "files_compacted": files_comp,
                "probe_compacted_sec": probe_comp,
            }
        )
    )
    spark.sql("DROP TABLE IF EXISTS scale_sigstore")


if __name__ == "__main__":
    main()
