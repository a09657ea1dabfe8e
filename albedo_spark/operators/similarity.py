"""Similarity search over embedding columns (``array<float>``).

North-star extension (BASELINE.json): approximate-nearest-neighbor as a
reusable operator. Two tiers:

- ``cosine_knn``: brute-force top-k — broadcast the (small) query set against
  the corpus, dot/norm as native higher-order expressions, per-query top-k
  via the W1 window idiom. Exact; linear in |corpus|×|queries|; the baseline
  and the verifier.
- ``random_hyperplane_lsh_knn``: sign-bit bucketing on r seeded random
  hyperplanes (Charikar SimHash-for-cosine). Bucket equi-join replaces the
  cross product; multi-probe (flip one bit) trades recall for cost. At
  100 TB, this is the path: the corpus is hashed once (narrow), buckets are
  value-balanced, and the join shuffles only on (table, bucket).
- ``ivf_knn``: IVF-style coarse quantization — assign every vector to its
  nearest pivot cell (pivot set folded in as literals, so assignment is a
  pure projection: no shuffle over the corpus), probe the ``n_probe``
  nearest cells per query, exact-search only inside probed cells.
- ``cosine_near_dup_pairs``: embedding near-duplicate detection — banded
  hyperplane LSH self-join (hash once, equi-join per band on the band
  signature), then exact cosine verification at a threshold.

Precompute norms once per side rather than per pair.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from albedo_spark.functions.vectors import cosine_from_norms, dot, l2_norm
from albedo_spark.operators.topk import top_k_per_group


def _with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.withColumn(out, l2_norm(F.col(vec_col)))


def cosine_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast(queries) × corpus → cosine via precomputed norms →
    row_number window per query (ties broken by neighbor id). Output
    (query_id, neighbor_id, cosine, rank).

    ``exclude_self`` drops candidates with ``query_id == neighbor_id`` —
    correct ONLY when queries are drawn from the corpus so the two id
    columns share one id space. Pass ``False`` when queries come from an
    independent table, or an unrelated corpus vector whose id numerically
    collides with a query id would silently vanish from that query's top-k.
    """
    c = _with_norm(corpus, vec_col, "_cn").select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "_cn"
    )
    q = _with_norm(queries, vec_col, "_qn").select(
        F.col(query_id_col), F.col(vec_col).alias("_qv"), "_qn"
    )
    cond = (
        F.col(query_id_col) != F.col("neighbor_id") if exclude_self else F.lit(True)
    )
    scored = (
        c.join(F.broadcast(q), cond)
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("_cv"), F.col("_cn"), F.col("_qv"), F.col("_qn")
            ),
        )
        .select(query_id_col, "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_bands: int = 8,
    planes_per_band: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    Banded random-hyperplane LSH: each vector gets ``num_bands`` independent
    sign-bit signatures (``planes_per_band`` seeded planes each, seed offset
    per band); a pair is a candidate iff SOME band signature collides. The
    corpus is hashed once and exploded to (band, sig) rows, so candidate
    generation is a self equi-join on (band, sig) — never a cross product.
    Candidate id pairs are deduped *before* vectors are re-attached (narrow
    shuffle), then verified with exact cosine.

    Recall rises with ``num_bands`` and falls with ``planes_per_band``
    (per-plane agreement is 1 − θ/π); tune both to the target threshold —
    at 0.9+ the defaults are reasonable, at low thresholds LSH is
    intentionally lossy. Output: (id_a, id_b, cosine).
    """
    sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hyperplane_signature(
                    F.col(vec_col), dim, planes_per_band, seed + b
                ).alias("sig"),
            )
            for b in range(num_bands)
        ]
    )
    hashed = corpus.select(
        F.col(id_col), F.explode(sigs).alias("_bs")
    ).select(id_col, F.col("_bs.band").alias("band"), F.col("_bs.sig").alias("sig"))
    left = hashed.select(F.col(id_col).alias("id_a"), "band", "sig")
    right = hashed.select(F.col(id_col).alias("id_b"), "band", "sig")
    cand = (
        left.join(right, ["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = _with_norm(corpus, vec_col, "_n").select(
        F.col(id_col), F.col(vec_col).alias("_v"), "_n"
    )
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb")
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """The seeded random hyperplanes — exposed so oracles (DuckDB SQL) can
    embed the identical literals."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def hyperplane_signature(
    vec_col: Column, dim: int, num_planes: int = 16, seed: int = 42
) -> Column:
    """Bit-signature bucket id from r seeded random hyperplanes.

    Hyperplanes are generated driver-side with a seeded RNG and folded into
    the expression as ONE parsed array-of-arrays literal looped by an
    indexed ``transform`` (bit i set iff dot(vec, planes[i]) > 0), not as
    per-element ``F.lit`` calls unrolled per plane — the unrolled form was
    ~1000 Py4J round-trips plus a large Catalyst tree re-analyzed on every
    query construction (same fixed-overhead trap as ``_cell_scores``).
    Projection sign per plane is computed by the identical runtime fold,
    so bucket ids are unchanged.
    """
    planes = hyperplanes(dim, num_planes, seed)
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"
            for plane in planes
        )
        + ")"
    )
    terms = F.transform(
        planes_lit,
        lambda p, i: F.when(
            dot(vec_col, p) > 0,
            # 2^i as pow-then-cast: shiftleft needs a literal int, and
            # doubles represent 2^i exactly for i < 53 (num_planes <= 16)
            F.pow(F.lit(2.0), i.cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)


def probe_buckets(sig: Column, num_planes: int, multi_probe: bool) -> Column:
    """The buckets a ``num_planes``-bit signature probes: the signature
    itself plus, under ``multi_probe``, its ``num_planes`` single-bit
    flips (every bucket within Hamming distance 1). The one multi-probe
    rule of the hyperplane-LSH operators and the vector store."""
    if not multi_probe:
        return F.array(sig)
    return F.array(
        sig, *[sig.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
    )


def _query_probes(
    queries: DataFrame, dim: int, vec_col: str, query_id_col: str,
    num_planes: int, seed: int, multi_probe: bool,
) -> DataFrame:
    """Probe rows ``(query_id, _qv, _qn, bucket)`` of a query batch: one
    row per ``probe_buckets`` bucket of its hyperplane signature."""
    q = _with_norm(queries, vec_col, "_qn").withColumn(
        "_sig", hyperplane_signature(F.col(vec_col), dim, num_planes, seed)
    )
    return q.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        "_qn",
        F.explode(
            probe_buckets(F.col("_sig"), num_planes, multi_probe)
        ).alias("bucket"),
    )


def random_hyperplane_lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    num_planes: int = 8,
    seed: int = 42,
    multi_probe: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: compare only vectors whose hyperplane signatures
    match (optionally within Hamming distance 1 via query-side probes).

    The corpus is hashed once; queries explode to 1+num_planes probe buckets;
    the candidate join is a plain equi-join on bucket. ``exclude_self`` as in
    ``cosine_knn`` — only valid when queries are drawn from the corpus.
    """
    c = _with_norm(corpus, vec_col, "_cn").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        "_cn",
        hyperplane_signature(F.col(vec_col), dim, num_planes, seed).alias("bucket"),
    )
    q = _query_probes(
        queries, dim, vec_col, query_id_col, num_planes, seed, multi_probe
    )
    scored = (
        c.join(q, "bucket")
        .where(
            F.col(query_id_col) != F.col("neighbor_id")
            if exclude_self
            else F.lit(True)
        )
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("_cv"), F.col("_cn"), F.col("_qv"), F.col("_qn")
            ),
        )
        .select(query_id_col, "neighbor_id", "cosine")
        .distinct()
    )
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def _cell_scores(
    vec_col: Column, norm_col: Column, pivots: Sequence[tuple[int, Sequence[float]]]
) -> Column:
    """array<struct<cos,cell>> of cosine(vec, pivot) for every pivot,
    sorted descending — ties broken toward the HIGHER cell id (struct
    comparison order), which oracles must mirror (ORDER BY cos DESC,
    cell DESC).

    ``norm_col`` is the PRECOMPUTED row-vector norm and pivot norms are
    computed driver-side (left-to-right double sum — the identical IEEE
    sequence Spark's fold and DuckDB's loop produce), so each pivot costs
    one dot product instead of a dot plus two interpreted norm folds —
    a 3× cut in the per-row HOF work.

    The pivot matrix enters the plan as ONE parsed SQL literal looped by
    ``transform`` at runtime, not as per-element ``F.lit`` calls unrolled
    per pivot: the unrolled form cost ~1000 Py4J round-trips plus a huge
    Catalyst tree to analyze on EVERY query construction (~2.5 s of
    driver time at 8x64 pivots — pure fixed overhead that dominated the
    sf0.1 bench), while the parsed literal is O(1) JVM calls and a small
    tree. Runtime fold order per dot product is unchanged, so scores are
    bit-identical."""
    import math

    parts = []
    for cid, pv in pivots:
        pnorm = math.sqrt(sum(float(x) * float(x) for x in pv))
        arr = ",".join(f"{float(x)!r}D" for x in pv)
        parts.append(
            f"named_struct('cell', {int(cid)}, 'pv', array({arr}),"
            f" 'pnorm', {pnorm!r}D)"
        )
    piv_lit = F.expr("array(" + ",".join(parts) + ")")

    def score(p):
        cos = cosine_from_norms(vec_col, norm_col, p["pv"], p["pnorm"])
        return F.struct(cos.alias("cos"), p["cell"].alias("cell"))

    return F.sort_array(F.transform(piv_lit, score), asc=False)


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    pivots: Sequence[tuple[int, Sequence[float]]],
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    ``len(pivots)`` cells (nearest pivot by cosine), probe the ``n_probe``
    nearest cells per query, exact-search only within probed cells.

    ``pivots`` is a small driver-side list of (cell_id, vector) — folded
    into the plan as literals, so corpus assignment is a pure projection
    (single scan, NO shuffle; at 100 TB this is the difference between a
    map stage and re-shuffling the whole corpus). The candidate join is a
    plain equi-join on cell; cells are bounded by pivot spread, and skewed
    cells fall to AQE skew handling.

    Pivot choice is the caller's (k-means offline, or any deterministic
    rule); quality degrades gracefully with bad pivots — recall drops,
    returned distances stay exact. ``exclude_self`` as in ``cosine_knn`` —
    only valid when queries are drawn from the corpus.
    """
    c = _with_norm(corpus, vec_col, "_cn").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        "_cn",
        F.element_at(
            _cell_scores(F.col(vec_col), F.col("_cn"), pivots), 1
        )["cell"].alias("cell"),
    )
    q = (
        _with_norm(queries, vec_col, "_qn")
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qv"),
            "_qn",
            F.explode(
                F.slice(_cell_scores(F.col(vec_col), F.col("_qn"), pivots), 1, n_probe)
            ).alias("_probe"),
        )
        .select(query_id_col, "_qv", "_qn", F.col("_probe.cell").alias("cell"))
    )
    scored = (
        c.join(q, "cell")
        .where(
            F.col(query_id_col) != F.col("neighbor_id")
            if exclude_self
            else F.lit(True)
        )
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("_cv"), F.col("_cn"), F.col("_qv"), F.col("_qn")
            ),
        )
        .select(query_id_col, "neighbor_id", "cosine")
        # No dedup: each corpus vector lives in exactly ONE cell
        # (element_at(..., 1)) and a query's probed cells are distinct, so a
        # (query, neighbor) pair occurs at most once — a distinct here would
        # be a second full shuffle of every candidate pair.
    )
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def kmeans_pivots(
    corpus: DataFrame,
    k: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Learn IVF pivot cells with MLlib KMeans — the offline step
    ``ivf_knn``'s docstring delegates to the caller. Returns the
    driver-side ``[(cell_id, center)]`` list ivf_knn folds into the plan
    (bounded at k x dim floats, so the collect is O(kB), never data-sized).

    Seeded and deterministic for a fixed corpus; at 100 TB train on a
    sample (`df.sample`) — KMeans cost is per-point x k x iterations and
    pivot QUALITY only needs distributional coverage, not every row.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]


def cosine_knn_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors via Arrow-batched numpy matmul — the
    high-throughput twin of ``cosine_knn`` for when the scoring math (not
    the plan) is the bottleneck.

    The query set is collected driver-side (BOUNDED: queries are the small
    side by contract, same as cosine_knn's broadcast) and closed over as a
    normalized numpy matrix. Each corpus partition then computes one
    (batch x dim) @ (dim x Q) GEMM per Arrow batch and emits only its
    PARTIAL top-k rows per query — so the shuffle that follows carries at
    most partitions x Q x k candidate rows instead of |corpus| x Q scored
    pairs, and the global ``top_k_per_group`` merge finishes it. Results
    are bit-comparable to cosine_knn up to float64 summation order;
    ranking ties break identically (cosine desc, neighbor id asc).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm_safe = np.where(q_norm > 0, q_norm, 1.0)

    def score_partition(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if mat.size == 0:
                continue
            c_norm = np.linalg.norm(mat, axis=1)
            c_norm_safe = np.where(c_norm > 0, c_norm, 1.0)
            scores = (mat @ q_mat.T) / np.outer(c_norm_safe, q_norm_safe)
            scores[c_norm == 0, :] = 0.0
            scores[:, q_norm == 0] = 0.0
            out_q, out_n, out_s = [], [], []
            top = min(k + (1 if exclude_self else 0), scores.shape[0])
            for j in range(scores.shape[1]):
                col = scores[:, j]
                # partial top-(k+1): argpartition then exact ordering of the head
                idx = np.argpartition(-col, top - 1)[:top] if top < len(col) else np.arange(len(col))
                if exclude_self:
                    idx = idx[ids[idx] != q_ids[j]]
                order = np.lexsort((ids[idx], -col[idx]))[:k]
                sel = idx[order]
                out_q.extend([q_ids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(col[sel])
            yield pd.DataFrame(
                {query_id_col: out_q, "neighbor_id": out_n, "cosine": out_s}
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score_partition,
        schema=f"{query_id_col} long, neighbor_id long, cosine double",
    )
    return top_k_per_group(
        partial,
        [query_id_col],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def cluster_assign(
    corpus: DataFrame,
    pivots: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-pivot cluster assignment per vector — the coarse
    quantization ``ivf_knn`` applies to its corpus, exposed as a
    standalone stage: ``(id, cell, cos_x10k)``. SemDeDup-style pipelines
    cluster the corpus FIRST (then dedup within clusters); domain-mixing
    pipelines report and rebalance cluster mass. Map-only: the pivot
    matrix rides the plan as one parsed literal (the ``_cell_scores``
    machinery), so at 100 TB assignment is a single scan with NO
    shuffle. ``cos_x10k`` is the cosine to the winning pivot,
    integerized per row (engine-portable)."""
    c = _with_norm(corpus, vec_col, "_n")
    best = F.element_at(
        _cell_scores(F.col(vec_col), F.col("_n"), pivots), 1
    )
    return c.select(
        F.col(id_col),
        best["cell"].alias("cell"),
        F.floor(best["cos"] * F.lit(10_000.0) + F.lit(0.5))
        .cast("long")
        .alias("cos_x10k"),
    )


def cluster_profile(
    corpus: DataFrame,
    pivots: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster corpus profile: ``(cell, n_vectors, mean_cos_x10k)``
    — size and coherence (mean cosine to the pivot) of every cell. The
    domain-balance report a mixture-sampling stage consumes, and the
    cluster-size input SemDeDup needs to budget within-cluster dedup.
    One map-only assignment + one aggregate; the mean is an exact BIGINT
    sum of per-row integerized cosines floor-divided by the count (the
    q101 order-independence discipline — a double mean would fold in
    engine-specific order)."""
    a = cluster_assign(corpus, pivots, vec_col, id_col)
    return a.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.expr("sum(cos_x10k) DIV count(*)").alias("mean_cos_x10k"),
    )


def rp_sign_matrix(
    in_dim: int, out_dim: int, seed: int = 42
) -> list[list[float]]:
    """±1 sign matrix for random projection, derived per entry from
    ``md5(f"rp:{seed}:{j}:{i}")`` (first hex digit < 8 → +1) — the
    catalog's engine-portable determinism rule, so the DuckDB oracle
    recomputes the identical matrix in SQL instead of trusting a
    seeded RNG to agree across engines. Rademacher ±1 entries satisfy
    the Johnson-Lindenstrauss guarantee (Achlioptas 2001) — no Gaussian
    sampling needed."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress ``in_dim``
    embeddings to ``out_dim`` signed sums ``y_j = Σ_i v_i·s_ij`` with a
    Rademacher ±1 matrix — ``(id, projected array<double>)``. The
    standard pre-step when downstream stages (ANN indexing, clustering,
    near-dup banding) don't need full precision: distances are preserved
    within (1±ε) at out_dim = O(log n / ε²), and a 4× narrower vector is
    4× less shuffle bytes for every stage that follows. (The common
    1/√out_dim scale factor is omitted — it rescales all distances
    uniformly and cosine is scale-invariant.)

    Map-only at 100 TB: the sign matrix rides the plan as literals
    (same trick as ``_cell_scores``' pivot matrix) and each output
    coordinate is one ordered ``aggregate`` fold over the input array —
    a pure projection, no shuffle, no UDF, whole-stage codegen. The
    left-to-right fold order makes each double sum bit-reproducible,
    which is what lets the oracle replay it exactly."""
    signs = rp_sign_matrix(in_dim, out_dim, seed)
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(s) for s in row]),
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for row in signs
        ]
    )
    return df.select(F.col(id_col), proj.alias("projected"))


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar corpus vectors with a DIFFERENT label —
    ``(anchor_id, neighbor_id, cosine, rank)``. The negatives that sit
    closest to the decision boundary are the ones a contrastive or
    metric-learning objective learns most from (the standard
    in-batch-negatives upgrade); same-label neighbors are excluded
    because they are (pseudo-)positives, and NULL-label rows drop out on
    either side (no label, no polarity).

    Same plan shape as ``cosine_knn`` — broadcast the (small) anchor set
    against the corpus with the label-difference predicate FUSED into
    the join condition, so same-label pairs never materialize, then the
    pinned window top-k per anchor with the (cosine DESC, neighbor ASC)
    deterministic tie-break. At 100 TB: one corpus scan, no shuffle
    before the top-k, and the window's partial aggregation keeps only k
    rows per anchor per partition. For web-scale anchor sets, swap the
    broadcast for the LSH/IVF candidate stage and verify exactly — the
    same escalation path as the kNN family."""
    c = _with_norm(corpus, vec_col, "_cn").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        "_cn",
    )
    a = _with_norm(anchors, vec_col, "_qn").select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_al"),
        F.col(vec_col).alias("_qv"),
        "_qn",
    )
    cond = (F.col("_cl") != F.col("_al")) & (
        F.col("anchor_id") != F.col("neighbor_id")
    )
    scored = (
        c.join(F.broadcast(a), cond)
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("_cv"), F.col("_cn"), F.col("_qv"), F.col("_qn")
            ),
        )
        .select("anchor_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored,
        ["anchor_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def mmr_select(
    vectors: DataFrame,
    query_id: int,
    k: int = 4,
    pool: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998): greedily pick the item maximizing ``relevance − max similarity
    to anything already picked`` — the diversity-aware re-rank behind
    search result diversification AND diverse exemplar selection for
    training data (k near-identical top hits teach less than k spread
    ones). λ = 1/2, with the ×2 scale absorbed so the score stays the
    integer difference ``rel_x10k − max(sim_x10k)`` (same argmax).

    Determinism contract (every engine and a pure-Python replay derive
    the identical selection): relevance and similarity are inner
    products computed as LEFT-TO-RIGHT float64 folds (the q115
    bit-reproducibility rule — Spark's ordered ``aggregate``, DuckDB's
    ``list_dot_product`` and Python's sequential ``sum`` round
    identically), integerized ×10⁴ BEFORE any comparison; all ties break
    on ascending id.

    Plan shape at 100 TB: the DISTRIBUTED work is scoring the full
    corpus against the query (one map-only projection) and the
    ``TakeOrderedAndProject`` pool cut — the classic re-rank-window
    geometry. The greedy loop then runs driver-side over the
    CONSTANT-size pool (``pool`` rows collected — a bounded collect per
    the A7 discipline, like the IVF pivots and BPE argmax rows), because
    an O(pool²·k) integer loop over ≤16 rows is not a distributed
    problem. Output: (rank, id, score_x10k), rank 0 scored by pure
    relevance.
    """
    q = vectors.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv")
    )
    rel = (
        vectors.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.floor(dot(F.col(vec_col), F.col("_qv")) * 10000.0 + 0.5)
            .cast("long")
            .alias("rel_x10k"),
        )
        .orderBy(F.col("rel_x10k").desc(), F.col(id_col).asc())
        .limit(pool)
    )
    rows = rel.collect()  # bounded by the `pool` constant
    vecs = {r[0]: [float(x) for x in r._v] for r in rows}
    relv = {r[0]: r.rel_x10k for r in rows}

    def _dot_x10k(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        import math

        return int(math.floor(s * 10000.0 + 0.5))

    selected: list[tuple[int, int, int]] = []  # (rank, id, score)
    chosen: list[int] = []
    for rank in range(min(k, len(rows))):
        best = None
        for i in sorted(vecs):
            if i in chosen:
                continue
            if chosen:
                score = relv[i] - max(
                    _dot_x10k(vecs[i], vecs[s]) for s in chosen
                )
            else:
                score = relv[i]
            if best is None or (score, -i) > (best[1], -best[0]):
                best = (i, score)
        selected.append((rank, best[0], best[1]))
        chosen.append(best[0])
    return vectors.sparkSession.createDataFrame(
        selected, f"rank long, {id_col} long, score_x10k long"
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Scalar int8 quantization of an embedding column → ``(id, qvec
    array<long>, scale double)``: per-vector max-abs scaling, element
    ``q = floor(x·127/scale + 0.5)`` (round-half-up, so q ∈ [-127, 127];
    zero vectors quantize to zeros with scale 0). This is the standard
    storage/IO lever for 100 TB vector corpora — 4× smaller than float32
    on the wire and in the ANN store, with the scale kept per vector so
    approximate scores can be de-quantized (``qdot·scale_a·scale_b /
    127²``) when a caller wants cosine-comparable values.

    Determinism contract: scale is an exact max over exactly-cast
    doubles, and the per-element chain ``(x·127.0)/scale + 0.5 → floor``
    is one fixed IEEE op sequence, so DuckDB reproduces every quantized
    integer bit-for-bit (the q115/q133 float rule) and everything
    downstream of quantization is pure BIGINT — order-independent sums,
    hashable by the gate. Plan: a single map-side projection, no
    shuffle; the HOF lambdas only touch materialized columns (the q132
    projection-boundary discipline). ``keep_cols`` pass through
    untouched (e.g. a precomputed LSH bucket for the quantized vector
    store)."""
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col(vec_col).cast("array<double>").alias("_e"),
    ).withColumn(
        "scale", F.array_max(F.transform(F.col("_e"), lambda x: F.abs(x)))
    )
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("_e"),
            lambda x: F.floor(x * F.lit(127.0) / F.col("scale") + F.lit(0.5)).cast(
                "long"
            ),
        ),
    ).otherwise(F.transform(F.col("_e"), lambda x: F.lit(0).cast("long")))
    out = staged.select(
        id_col, *[F.col(c) for c in keep_cols], q.alias("qvec"), "scale"
    )
    # Integer squared norm alongside the codes: Σ q² ≤ dim·127² stays far
    # inside BIGINT, and carrying it lets consumers rank by QUANTIZED
    # COSINE (qdot / √(qn_a·qn_b)) — the scale factors cancel in the
    # ratio, so no float enters until one final sqrt+divide.
    return out.withColumn(
        "qnorm2",
        F.aggregate(
            F.col("qvec"), F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ),
    )


def quantized_knn(
    corpus: DataFrame,
    query_ids,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k under int8-quantized COSINE → ``(query_id,
    neighbor_id, qdot, qcos, rank)``: quantize the corpus ONCE
    (map-side), broadcast the quantized query rows, score with the
    BIGINT dot ``Σ qa[i]·qb[i]`` normalized by the integer squared
    norms — ``qcos = qdot / √(qn_a·qn_b)`` (the per-vector scales
    cancel in the ratio, so the ONLY floats are one cast, one sqrt and
    one divide per pair — a fixed IEEE sequence both engines replay) —
    and rank with the pinned row_number idiom (qcos desc, neighbor id
    asc). ``query_ids`` is a Column predicate selecting the query
    subset from the corpus (queries share the corpus id space;
    self-matches are excluded). Cosine, not raw dot, is the ranking
    metric: raw quantized dot conflates direction with magnitude and
    measurably degrades agreement with exact cosine (0.70 → 1.00
    recall@5 on the fixture embeddings — pinned in pytest).

    Why this exists next to ``cosine_knn``: at 100 TB the quantized
    corpus is what you SHIP — reading 16 GB of int8 + one long norm per
    vector instead of 64 GB of float32 per billion 64-dim vectors — and
    the scoring loop is long multiplies inside whole-stage codegen
    instead of double folds."""
    qz = quantize_int8(corpus, vec_col, id_col)
    queries = qz.where(query_ids).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("_qq"),
        F.col("qnorm2").alias("_qn"),
    )
    scored = (
        qz.select(F.col(id_col).alias("neighbor_id"), "qvec", "qnorm2")
        .join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("qvec"), F.col("_qq"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("qdot"),
            F.col("qnorm2"),
            F.col("_qn"),
        )
        .select(
            "query_id",
            "neighbor_id",
            "qdot",
            F.when(
                (F.col("qnorm2") > 0) & (F.col("_qn") > 0),
                F.col("qdot").cast("double")
                / F.sqrt((F.col("qnorm2") * F.col("_qn")).cast("double")),
            )
            .otherwise(F.lit(0.0))
            .alias("qcos"),
        )
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("qcos").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )
