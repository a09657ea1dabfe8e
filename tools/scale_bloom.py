"""Bloom-sidecar scaling: the round-8 claim measured.

``exact_dedup_incremental`` joins every batch row against the digest
store. The Bloom sidecar answers "definitely not in the store" MAP-SIDE,
so on a high-novelty batch only the dup fraction (plus the sized
false-positive trickle) pays the store join. This probe measures that:

for each store size N (decorrelated replicas, as in scale_bench):
  1. build_digest_store over the N-copy history + build_bloom_sidecar
     sized ~10 bits/key (one-time, timed)
  2. resolve a FIXED all-novel batch (per-row-perturbed texts — zero true
     dups) plain vs bloomed (per-batch, timed), recording how many rows
     the bloom routed to the store join (the fp trickle)
  3. resolve a FIXED half-dup batch the same way (the realistic mix)

The claim holds if the bloomed resolve beats the plain one on the novel
batch and the routed-to-join count is ≈ the true-dup count (+~1% fp) on
both.

Usage::

    python tools/scale_bloom.py [n_copies ...]   # default: 10 100

One JSON line per (size, batch-kind) point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from scale_bench import replicate  # noqa: E402


def main() -> None:
    from albedo_spark import io
    from albedo_spark.operators.dedup import normalize_text
    from albedo_spark.operators.dedup_store import (
        bloom_maybe,
        build_bloom_sidecar,
        build_digest_store,
        exact_dedup_incremental,
    )
    from albedo_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    points = [int(a) for a in sys.argv[1:]] or [10, 100]

    spark = get_spark("scale-bloom")
    spark.sparkContext.setLogLevel("ERROR")
    base = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")

    novel_batch = base.select(
        (F.col("doc_id") + F.lit(1_000_000_000).cast("long")).alias("doc_id"),
        F.concat(
            F.lit("novel_"), F.col("doc_id").cast("string"), F.lit(" "),
            F.col("text"),
        ).alias("text"),
    ).persist()
    n_novel = novel_batch.count()
    # half dups of replica 0, half novel
    mixed_batch = (
        base.where("doc_id % 2 = 0")
        .select(
            (F.col("doc_id") + F.lit(2_000_000_000).cast("long")).alias(
                "doc_id"
            ),
            "text",
        )
        .unionByName(novel_batch.where("doc_id % 2 = 1"))
        .persist()
    )
    n_mixed = mixed_batch.count()

    def resolve_sec(batch, bloom):
        t0 = time.perf_counter()
        exact_dedup_incremental(
            batch, "scale_digstore",
            bloom_table="scale_digbloom" if bloom else None,
        ).count()
        return round(time.perf_counter() - t0, 2)

    def n_maybe(batch):
        digests = batch.select(
            F.md5(normalize_text(F.col("text"))).alias("digest")
        )
        return (
            bloom_maybe(digests, "scale_digbloom", "digest")
            .where("_maybe")
            .count()
        )

    for n_copies in points:
        hist = io.widen(replicate(base, n_copies)).persist()
        n_hist = hist.count()
        # ~10 bits per distinct digest, rounded up to a power of two
        num_bits = 64
        while num_bits < n_hist * 10:
            num_bits *= 2
        t0 = time.perf_counter()
        build_digest_store(hist, "scale_digstore", num_buckets=32)
        build_bloom_sidecar(
            spark, "scale_digstore", "scale_digbloom", num_bits=num_bits
        )
        build_sec = round(time.perf_counter() - t0, 2)
        hist.unpersist()
        for kind, batch, n_batch in (
            ("novel", novel_batch, n_novel),
            ("mixed", mixed_batch, n_mixed),
        ):
            plain = resolve_sec(batch, bloom=False)
            bloomed = resolve_sec(batch, bloom=True)
            print(
                json.dumps(
                    {
                        "n_store": n_hist,
                        "num_bits": num_bits,
                        "build_sec": build_sec,
                        "batch": kind,
                        "n_batch": n_batch,
                        "plain_sec": plain,
                        "bloom_sec": bloomed,
                        "n_join_rows": n_maybe(batch),
                    }
                )
            )
    spark.sql("DROP TABLE IF EXISTS scale_digstore")
    spark.sql("DROP TABLE IF EXISTS scale_digbloom")


if __name__ == "__main__":
    main()
