"""Deterministic integer k-means over embedding columns — the semantic
clustering stage of a training-data pipeline (SemDeDup-style semantic
dedup buckets, corpus domain discovery, IVF coarse quantizers all start
with "k-means the embeddings").

The reference has no clustering surface (its ML stays in ALS/W2V/LR —
``S/ALSRecommenderBuilder.scala``, ``S/Word2VecCorpusBuilder.scala``);
this module is north-star extension surface built on the package's
exact-integer discipline so the whole trainer is ORACLE-ABLE: classic
Lloyd's k-means is float-nondeterministic (reduction order changes the
centroids), but on ``floor(x·scale + 0.5)`` integerized vectors with
integer-mean centroid updates (``sum div count`` — Spark ``div`` and
DuckDB ``//`` both truncate toward zero, verified) every assignment,
every centroid, and every inertia value is a bit-exact BIGINT in any
engine and any partitioning. The trade is quantization of the input
space (scale 1000 ≈ 3 decimal digits), which for corpus bucketing is
noise-level; determinism is what a reproducible data pipeline needs.

Scale posture (100 TB): centroids are model state — k·dim longs — and
ride a broadcast as ONE packed row per key; each round is ONE map-only
pass over the vectors (an in-row ``array_min`` argmin over the packed
row, dot/diff folds inside whole-stage codegen) plus ONE
map-side-combinable mean aggregation over (key, cluster, dim) groups
(k·dim per key, constant-size reduce state). ``kmeans_fit`` is the one
unrolled round loop (same idiom as q121 PageRank); ``key`` trains many
independent models — e.g. the m PQ subspaces — in the same jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def integerize_embeddings(
    emb: DataFrame,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, q array<long>)`` — per-component ``floor(x·scale + 0.5)``,
    the q144 fixed-IEEE-op-sequence idiom (float→double is exact, one
    multiply, one floor), so both engines hold identical integers."""
    arr = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            arr, lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long")
        ).alias("q"),
    )


def _key_suffix(key: str | None) -> list:
    """Error-message tail naming the offending key value (empty unkeyed)."""
    if not key:
        return []
    return [F.lit(f" ({key}="), F.col(key).cast("string"), F.lit(")")]


def seed_centroids(
    vectors: DataFrame, k: int, stride: int = 29, key: str | None = None
) -> DataFrame:
    """Deterministic init: the ``k`` smallest vec_ids among
    ``vec_id % stride == 0`` become clusters 0..k-1 (a fixed, engine-
    replayable rule — the k-means++ randomized init trades determinism
    for convergence speed; with unrolled fixed rounds the trade goes the
    other way). Returns ``(cluster_id, c array<long>)``; with ``key``,
    ``(key, cluster_id, c)`` seeded independently per key value.

    Seed-shortfall guard (ADVICE r10 #2): if fewer than ``k`` vec_ids
    satisfy the stride filter (small fixtures, sparse id spaces), the
    trainer used to degrade SILENTLY to a smaller k — both engines
    identically, so the oracle still passed. Now a lazy ``raise_error``
    over a count window (per key) fires at execution time (no extra
    driver action — the frame is ≤k rows per key). A key with ZERO
    matching seeds gets no centroid rows; ``assign_clusters`` then
    raises on its vectors."""
    from pyspark.sql import Window

    ks = [key] if key else []
    matched = vectors.where(F.col("vec_id") % stride == 0)
    if key:
        rank = F.row_number().over(Window.partitionBy(key).orderBy("vec_id"))
        seeds = matched.withColumn("_r", rank).where(F.col("_r") <= k).drop("_r")
    else:
        seeds = matched.orderBy("vec_id").limit(k)
    n_match = F.count("*").over(Window.partitionBy(*ks))
    return seeds.select(
        *ks,
        (
            F.row_number().over(Window.partitionBy(*ks).orderBy("vec_id")) - 1
        ).alias("cluster_id"),
        F.when(
            n_match < k,
            F.raise_error(
                F.concat(
                    F.lit("seed_centroids: only "),
                    n_match.cast("string"),
                    F.lit(
                        f" seed(s) satisfy vec_id % {stride} == 0 — need "
                        f"k={k}; lower stride or k"
                    ),
                    *_key_suffix(key),
                )
            ),
        )
        .otherwise(F.col("q"))
        .alias("c"),
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    carry_q: bool = False,
    key: str | None = None,
) -> DataFrame:
    """Nearest centroid per vector under squared L2 (BIGINT-exact):
    fold ``Σ(q_d − c_d)²`` JVM-side (``zip_with`` over two plain column
    arrays — no computed-array HOF capture) and take the smallest
    (dist, cluster_id), so ties break to the smallest cluster id. With
    ``key``, a vector only competes for its own key's centroids and the
    key column is carried through.

    ``carry_q=True`` additionally carries the vector itself through the
    per-vector argmin: the assignment frame then already holds
    everything a centroid update or residual encode needs, and the
    ``assignment ⋈ vectors`` re-join (one full vector shuffle per
    consumer) disappears (r16, guide §2.4). Same assignment, same
    integers.

    MAP-ONLY argmin (r16, guide §2.4 "remove shuffles outright"): the
    centroids are folded into ONE broadcast row per key (``collect_list``
    of (cluster_id, c) structs) and the per-vector argmin is
    ``array_min(transform(...))`` over that array — a pure projection,
    so the assignment pass has NO exchange and NO aggregate at all.
    Unkeyed, the row rides a broadcast nested-loop crossJoin; keyed, a
    broadcast hash join on the key. ``array_min`` over (dist,
    cluster_id) structs is order-independent even under ties, so the
    collect_list's nondeterministic array order cannot change the
    result.

    Loud guards, both lazy ``raise_error`` branches at execution time:
    a ragged vector (``zip_with`` silently truncates to the SHORTER
    array, giving a plausible-but-wrong distance — ADVICE r10 #2), and a
    vector with no centroid to compete for, i.e. an empty centroid frame
    or a key without centroids (else a NULL cluster_id, or keyed, a
    silently dropped vector — ADVICE r16 #1)."""
    ks = [key] if key else []

    def _dist(cc):
        return F.when(
            F.size("q") != F.size(cc["c"]),
            F.raise_error(
                F.concat(
                    F.lit("assign_clusters: ragged vector dim "),
                    F.size("q").cast("string"),
                    F.lit(" != centroid dim "),
                    F.size(cc["c"]).cast("string"),
                )
            ).cast("long"),
        ).otherwise(
            F.aggregate(
                F.zip_with("q", cc["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )

    packed = F.broadcast(
        centroids.groupBy(*ks).agg(
            F.collect_list(F.struct("cluster_id", "c")).alias("_cents")
        )
    )
    best = F.when(
        F.isnull("_cents") | (F.size("_cents") == 0),
        F.raise_error(
            F.concat(
                F.lit("assign_clusters: no centroid for vec_id "),
                F.col("vec_id").cast("string"),
                *_key_suffix(key),
            )
        ),
    ).otherwise(
        F.array_min(
            F.transform(
                F.col("_cents"),
                lambda cc: F.struct(
                    _dist(cc).alias("dist"), cc["cluster_id"].alias("cluster_id")
                ),
            )
        )
    )
    joined = (
        vectors.join(packed, key, "left") if key else vectors.crossJoin(packed)
    )
    # Two-step select: ``best`` is consumed twice (cluster_id, dist) —
    # behind the alias the argmin runs once per row (CollapseProject
    # keeps a non-cheap expression referenced twice un-inlined).
    carried = ["q"] if carry_q else []
    return joined.select(*ks, "vec_id", *carried, best.alias("_m")).select(
        *ks,
        "vec_id",
        F.col("_m.cluster_id").alias("cluster_id"),
        F.col("_m.dist").alias("dist"),
        *carried,
    )


def update_centroids(
    vectors: DataFrame,
    assignment: DataFrame,
    centroids: DataFrame,
    key: str | None = None,
) -> DataFrame:
    """Integer-mean centroid update: posexplode members to
    ``(key, cluster, dim, val)``, per-dim ``sum(val) div count(*)``
    (truncates toward zero in BOTH engines — exact), rebuild arrays with
    an ``array_sort`` on (dim, mean) structs. A cluster that lost every
    member KEEPS its previous centroid (left-join on (key, cluster) +
    coalesce) — the deterministic empty-cluster contract.

    An assignment built with ``assign_clusters(carry_q=True)`` already
    carries the vector — the re-join (a full vector shuffle per round)
    is skipped in that case (r16); same members, same means."""
    ks = [key] if key else []
    if "q" in assignment.columns:
        members = assignment.select(*ks, "vec_id", "cluster_id", "q")
    else:
        members = assignment.select(*ks, "vec_id", "cluster_id").join(
            vectors, [*ks, "vec_id"]
        )
    means = (
        members.select(*ks, "cluster_id", F.posexplode("q").alias("d", "val"))
        .groupBy(*ks, "cluster_id", "d")
        .agg(F.expr("sum(val) div count(*)").alias("m"))
    )
    rebuilt = means.groupBy(*ks, "cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("c_new")
    )
    return centroids.join(rebuilt, [*ks, "cluster_id"], "left").select(
        *ks, "cluster_id", F.coalesce("c_new", "c").alias("c")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    rounds: int,
    stride: int = 29,
    key: str | None = None,
) -> DataFrame:
    """The package's one k-means round loop: seeded init, then
    ``rounds`` × (``assign_clusters(carry_q=True)`` → ``update_centroids``)
    over an integerized ``(vec_id, q)`` frame. Returns the final
    ``(cluster_id, c)`` centroid frame, or ``(key, cluster_id, c)`` with
    ``key``: one independent model per key value, trained in the SAME
    jobs and identical to one fit per key slice (a vector only meets its
    own key's centroids; means group by key).

    Lazy per-round checkpoint (r16): each round's centroid frame is
    referenced TWICE by the next (the assignment's broadcast build and
    the update's left join), so un-truncated lineage replays round t-1
    twice inside round t — a 2^rounds corpus-pass blowup. The boundary
    makes it one vector pass per round. ``vectors`` is re-scanned every
    round: callers pass a checkpointed frame."""
    cents = seed_centroids(vectors, k, stride=stride, key=key)
    for _ in range(rounds):
        assignment = assign_clusters(vectors, cents, carry_q=True, key=key)
        cents = update_centroids(vectors, assignment, cents, key=key)
        cents = cents.localCheckpoint(eager=False)
    return cents


def kmeans_cluster_stats(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    scale: int = 1000,
    stride: int = 29,
) -> DataFrame:
    """Unrolled k-means → per-cluster ``(cluster_id, n, inertia,
    min_vec_id)``: ``rounds`` (assign, update) cycles from the seeded
    centroids, then one final assignment aggregated per cluster. All
    BIGINT; empty clusters appear with n=0 (full k-row grid). inertia =
    Σ min-dist — the convergence scalar a pipeline monitors; min_vec_id
    is a cheap membership witness so the oracle hash moves if ANY vector
    switches clusters, not only when counts change."""
    # Lazy checkpoint: kmeans_fit re-scans the vectors once per round.
    vectors = integerize_embeddings(emb, scale=scale).localCheckpoint(
        eager=False
    )
    cents = kmeans_fit(vectors, k, rounds, stride=stride)
    final = assign_clusters(vectors, cents)
    stats = final.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        F.sum("dist").alias("inertia"),
        F.min("vec_id").alias("min_vec_id"),
    )
    grid = cents.select("cluster_id")
    return grid.join(stats, "cluster_id", "left").select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("inertia", F.lit(0)).cast("long").alias("inertia"),
        F.coalesce("min_vec_id", F.lit(-1)).cast("long").alias("min_vec_id"),
    )
