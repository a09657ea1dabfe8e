"""Shared PQ recall fixtures: a seeded low-rank embedding corpus, the
exact integer squared-L2 ground truth, and recall@k. Used by the PQ /
IVF-PQ recall tests and by ``tools/scale_pq.py``.

Fixture note (a measured dead end worth keeping): a Gaussian MIXTURE
(tight isolated blobs) is the wrong notion of "clustered" for ranking —
all members of a tight blob encode to the SAME codes, ADC distances tie,
and recall@10 inside a ~60-member blob is the random 10/60 ≈ 0.16. Real
embedding corpora are low-dim MANIFOLDS (SIFT's intrinsic dim ≪ 128), so
the fixture here is rank-``latent`` data: x = A·z + noise with A a fixed
seeded 64×latent frame — neighbors vary smoothly and quantizers can rank
them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DIM = 64
SEED = 20260815


def make_lowrank(spark, n: int, latent: int, sigma: float = 0.01):
    """Seeded rank-``latent`` embeddings ``(vec_id, embedding)``:
    x = A·z + noise, A a fixed 64×latent frame with unit-norm columns —
    the SIFT-like manifold shape PQ is designed for (see module
    docstring for why a blob mixture is the wrong fixture)."""
    import numpy as np

    rng = np.random.RandomState(SEED)
    A = rng.normal(0, 1.0, size=(DIM, latent))
    A /= np.linalg.norm(A, axis=0, keepdims=True)
    z = rng.normal(0, 1.0, size=(n, latent))
    pts = z @ A.T + rng.normal(0.0, sigma, size=(n, DIM))
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def exact_topk(emb, query_pred, k: int) -> dict[int, list[int]]:
    """Ground truth: exact integer squared-L2 top-k over the integerized
    vectors (the same integerization every PQ path uses)."""
    from albedo_spark.operators.clustering import integerize_embeddings
    from albedo_spark.operators.topk import top_k_per_group

    v = integerize_embeddings(emb).localCheckpoint(eager=False)
    q = v.where(query_pred(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    dist = F.aggregate(
        F.zip_with("qq", "q", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = q.crossJoin(v).where(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), dist.alias("d")
    )
    out: dict[int, list[int]] = {}
    for r in top_k_per_group(
        cand, ["query_id"], [F.col("d").asc(), F.col("neighbor_id").asc()], k
    ).collect():
        out.setdefault(r.query_id, []).append(r.neighbor_id)
    return out


def recall(approx_rows, truth: dict[int, list[int]], k: int) -> float:
    got: dict[int, set] = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    if not truth:
        return 0.0
    return round(
        sum(len(got.get(q, set()) & set(t)) / len(t) for q, t in truth.items())
        / len(truth),
        4,
    )
