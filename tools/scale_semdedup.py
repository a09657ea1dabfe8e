"""SemDeDup pair-count scaling: the q171 claim measured — clustering
bounds the quadratic.

Exact-cosine dedup over N vectors is an N²/2-pair join; SemDeDup
(operators/dedup.semantic_dedup) compares only WITHIN k-means cells, so
the candidate count drops to Σ C(n_cell, 2) ≈ N²/(2k) for balanced
cells. This probe fabricates deterministic mixture-of-axes corpora
(vectors cluster around d distinct axes with hash-jitter, so k-means
has real structure to find) and sweeps k at fixed N, reporting the
candidate-pair count (the aggregate the pair join actually pays) and
the wall time of the full operator.

Measured on this host (local[32], dim 16, N = 20,000):

    k     cand_pairs   reduction   wall
    1     2.0e8        1.0x        636.5s
    8     3.5e7        5.7x        102.9s
    32    6.3e6        31.6x       19.2s

— pair work falls ~1/k exactly as the analysis predicts (the fabricated
cells are mixture-balanced, not adversarial), and WALL TRACKS THE PAIR
COUNT almost linearly: 33x fewer seconds at 32x fewer pairs, i.e. the
pair join dominates end to end and the fixed k-means stage is noise.
The k=1 row IS the all-pairs baseline (one cell = brute force) — the
operator degrades to it gracefully rather than failing. At 100 TB pick
k ≈ √N so each cell's self-join stays executor-sized.

Usage::

    python tools/scale_semdedup.py [N ...]   # default: 20000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

DIM = 16
AXES = 32  # latent cluster count in the fabricated corpus


def corpus(spark, n: int):
    """Deterministic mixture-of-axes vectors: vector i leans on axis
    (i % AXES) with small hash-jitter on the other dims — clusterable
    structure without Math.random (which would break replayability)."""
    e = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            F.when(d == (F.col("id") % AXES) % DIM, F.lit(1.0)).otherwise(0.0)
            + ((F.col("id") * 31 + d * 7) % 13).cast("double") / 100.0
        ),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), e.alias("embedding"))


def main() -> None:
    from albedo_spark.operators.clustering import (
        assign_clusters,
        integerize_embeddings,
        kmeans_fit,
    )
    from albedo_spark.operators.dedup import semantic_dedup
    from albedo_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [20_000]
    spark = get_spark("scale-semdedup", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    for n in sizes:
        emb = corpus(spark, n).localCheckpoint()
        for k in (1, 8, 32):
            # candidate-pair count from the final assignment (the same
            # trainer semantic_dedup runs): sum of C(n_cell, 2)
            vectors = integerize_embeddings(emb, scale=1000).localCheckpoint(
                eager=False
            )
            cents = kmeans_fit(vectors, k, 2, stride=1)
            cand = (
                assign_clusters(vectors, cents)
                .groupBy("cluster_id")
                .agg(F.count("*").alias("c"))
                .agg(F.sum(F.expr("c * (c - 1) div 2")).alias("p"))
                .first()["p"]
            )
            t0 = time.perf_counter()
            out = semantic_dedup(
                emb, k=k, rounds=2, threshold_x100=95, stride=1
            )
            n_dropped = out.where("NOT kept").count()
            wall = time.perf_counter() - t0
            print(
                json.dumps(
                    {
                        "n": n,
                        "k": k,
                        "cand_pairs": int(cand),
                        "all_pairs": n * (n - 1) // 2,
                        "reduction_x": round(n * (n - 1) / 2 / max(cand, 1), 1),
                        "n_dropped": n_dropped,
                        "wall_sec": round(wall, 2),
                    }
                )
            )


if __name__ == "__main__":
    main()
