"""Product quantization (PQ) ANN — the compressed-corpus scale path for
similarity search (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

Where q144's int8 scalar quantization shrinks each vector 4×, PQ shrinks
it to ``m`` small code ids — at m=4 subspaces × 8 codes a 64-dim float32
vector (256 B) becomes 4 × 3 bits of code (~2 B with packing; 4 B as
plain bytes): the whole corpus fits in RAM orders of magnitude earlier,
and query scoring never touches the original vectors. Scoring is ADC
(asymmetric distance computation): per query build the m×ncodes table of
exact subvector→centroid distances, then every candidate's approximate
distance is m TABLE LOOKUPS summed — no per-pair vector math at all.

Exactness discipline: vectors ride the package's ``floor(x·1000 + 0.5)``
integerization, codebooks are integer literals, so every encode decision
(min dist, tie → smallest code) and every ADC score is a bit-exact
BIGINT — the whole index build AND query path is hash-gateable (q150),
unlike any float PQ implementation. Codebooks can come from anywhere
that yields integer centroids; ``formula_codebooks`` gives a fixed
auditable default, and training them per-subspace with
``operators/clustering.py`` k-means is the production path (same
determinism contract end to end).

Scale posture (100 TB): codebooks are m·ncodes·subdim longs — model
state on a broadcast. Encoding is one pass over the vectors (broadcast
join, codegen integer folds, per-(vec, subspace) min). The ADC query
table is |queries|·m·ncodes rows — broadcast — so the scoring join
never shuffles the code table; scoring reads the 4-ints-per-row code
table, not the 64-float vectors. The reference has no ANN surface at
all (its similarity path is ES more-like-this, ``app/mappings.py``);
this module extends the q23/q33/q71/q93/q144 family."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from albedo_spark.operators.clustering import (
    assign_clusters,
    integerize_embeddings,
    kmeans_fit,
)
from albedo_spark.operators.topk import top_k_per_group


def formula_codebooks(
    m: int = 4, ncodes: int = 8, subdim: int = 16, spread: int = 400
) -> list[tuple[int, int, list[int]]]:
    """Fixed integer codebooks ``(s, code, centroid)`` from a small
    formula spanning [-spread, spread] (the sf fixture's integerized
    components sit in ~[-525, 458]) — deterministic, auditable, shared
    verbatim with the SQL oracle (the q148 literal-fixture technique).
    Production trains per-subspace codebooks with the clustering
    module's k-means instead; the encode/ADC path is identical."""
    mod = 2 * spread + 1
    return [
        (
            s,
            code,
            [((code * 131 + s * 37 + d * 53) % mod) - spread for d in range(subdim)],
        )
        for s in range(m)
        for code in range(ncodes)
    ]


def _dim_checked(m: int, subdim: int, ctx: str):
    """Lazy dimension guard (ADVICE r10 #2): ``slice`` silently yields a
    SHORT subarray on a 63-dim vector in a 64-dim corpus and downstream
    ``zip_with`` then NULL-pads — a plausible-but-wrong code. Raise at
    execution time instead (no extra driver action)."""
    return F.when(
        F.size("q") != m * subdim,
        F.raise_error(
            F.concat(
                F.lit(f"{ctx}: vector dim "),
                F.size("q").cast("string"),
                F.lit(f" != m*subdim = {m * subdim}"),
            )
        ).cast("array<long>"),
    ).otherwise(F.col("q"))


def _subvectors(vectors: DataFrame, m: int, subdim: int) -> DataFrame:
    """``(vec_id, s, sub array<long>)`` — slice each integerized vector
    into m contiguous subspaces (slices built in the projection, then
    posexploded: no computed-array HOF capture). Dimension-guarded."""
    q = _dim_checked(m, subdim, "pq")
    slices = F.array(
        *[F.slice(q, s * subdim + 1, subdim) for s in range(m)]
    )
    return vectors.select(
        "vec_id", F.posexplode(slices).alias("s", "sub")
    )


def _packed_codebooks(cb: DataFrame) -> DataFrame:
    """``(s, _codes array<struct<code,c>>)`` — one row per subspace with
    every centroid folded into an array, the broadcast shape of the
    in-row encoders below (r16): joining THIS on ``s`` is a 1:1 match
    (no ×ncodes fan-out), and the per-subspace argmin runs in-row via
    ``array_min`` — no exchange, no aggregate, at any corpus scale."""
    return cb.groupBy("s").agg(
        F.collect_list(F.struct("code", "c")).alias("_codes")
    )


def _inrow_code(sub_col: str):
    """``array_min(transform(_codes, ...))`` argmin over a packed
    codebook row — identical total order to ``min(struct(dist, code))``
    (order-independent under ties, so collect_list's array order cannot
    change the result); the same integer squared-L2 fold."""

    def _dist(cc):
        return F.aggregate(
            F.zip_with(sub_col, cc["c"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return F.array_min(
        F.transform(
            F.col("_codes"),
            lambda cc: F.struct(_dist(cc).alias("dist"), cc["code"].alias("code")),
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    codebooks: list[tuple[int, int, list[int]]] | None = None,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
) -> DataFrame:
    """PQ index build + ADC top-k in one plan: encode the corpus, slice
    the query rows' exact distance table out of the same frame,
    broadcast it, and score candidates by m table-lookup sums —
    ``(query_id, neighbor_id, adist, rank)``, self excluded, ranked
    (adist asc, neighbor_id asc)."""
    if codebooks is None:
        codebooks = formula_codebooks(m=m, subdim=subdim)
    spark = emb.sparkSession
    cb = spark.createDataFrame(codebooks, "s int, code int, c array<long>")
    vectors = integerize_embeddings(emb, scale=scale)
    # Two consumers (encoder + query table) of the subvector frame: lazy
    # localCheckpoint so the slice pass runs once (leak-free, unlike
    # persist — the bench-cache lesson).
    sub = _subvectors(vectors, m, subdim).localCheckpoint(eager=False)
    # In-row encoder (r16): the old path fanned the WHOLE corpus out to
    # |V|·m·ncodes distance rows and shuffled them through a groupBy
    # argmin; the packed-codebook join is 1:1 and the argmin runs in-row
    # — no fan-out, no exchange. Only the |Q| query rows still build the
    # full per-code distance table (that table IS the ADC output),
    # re-derived by EXPLODING the same packed broadcast so the whole
    # plan builds exactly one broadcast relation.
    packed = F.broadcast(_packed_codebooks(cb))
    codes = (
        sub.join(packed, "s")
        .select("vec_id", "s", _inrow_code("sub").alias("_m"))
        .select("vec_id", "s", F.col("_m.code").alias("code"))
    )
    dist = F.aggregate(
        F.zip_with("sub", F.col("_cc.c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qt = (
        sub.where(query_pred(F.col("vec_id")))
        .join(packed, "s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "sub",
            F.explode("_codes").alias("_cc"),
        )
        .select(
            "query_id", "s", F.col("_cc.code").alias("code"),
            dist.alias("tdist"),
        )
    )
    scored = (
        codes.join(F.broadcast(qt), ["s", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("tdist").alias("adist"))
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("adist").asc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    ).select("query_id", "neighbor_id", "adist", "rank")


def _train_subspace_codebooks(
    vectors: DataFrame,
    m: int,
    ncodes: int,
    subdim: int,
    rounds: int,
    stride: int,
) -> list[tuple[int, int, list[int]]]:
    """Per-subspace k-means over an integerized ``(vec_id, q)`` frame —
    the shared trainer core of ``train_codebooks`` (raw vectors) and
    ``train_residual_codebooks`` (IVF residuals). All m subspaces train
    as ONE ``key="s"`` fit (one job chain, one collect): the seeded init
    picks the same vec_ids in every subspace and each subvector only
    meets its own subspace's centroids, so the codebooks are identical
    to m separate fits — the DuckDB oracle's s-keyed CTE chain
    (``queries._subspace_kmeans_cte_chain``) is the same formulation.

    Lineage discipline: the subspace frame is re-scanned every round;
    without the checkpoint each scan would re-execute the ENTIRE
    upstream (for residual training: the whole coarse k-means)."""
    sub = (
        _subvectors(vectors, m, subdim)
        .select("vec_id", "s", F.col("sub").alias("q"))
        .localCheckpoint(eager=False)
    )
    cents = kmeans_fit(sub, ncodes, rounds, stride=stride, key="s")
    return [
        (int(r.s), int(r.cluster_id), [int(x) for x in r.c])
        for r in sorted(cents.collect(), key=lambda r: (r.s, r.cluster_id))
    ]


def train_codebooks(
    emb: DataFrame,
    m: int = 4,
    ncodes: int = 8,
    subdim: int = 16,
    scale: int = 1000,
    rounds: int = 2,
    stride: int = 29,
) -> list[tuple[int, int, list[int]]]:
    """Per-subspace k-means codebooks via operators/clustering.py — the
    production alternative to ``formula_codebooks`` with the SAME
    determinism contract (integer centroids, fixed seeded init, unrolled
    rounds), so a trained index is as replayable as the formula one.
    Returns driver-side ``(s, code, centroid)`` tuples — m·ncodes·subdim
    longs of MODEL STATE (the ALS-factor analog; at any corpus scale
    this is a few KB destined for a broadcast, not data)."""
    vectors = integerize_embeddings(emb, scale=scale)
    return _train_subspace_codebooks(vectors, m, ncodes, subdim, rounds, stride)


def train_residual_codebooks(
    emb: DataFrame,
    kc: int = 8,
    m: int = 4,
    ncodes: int = 8,
    subdim: int = 16,
    scale: int = 1000,
    coarse_rounds: int = 2,
    rounds: int = 2,
    stride: int = 29,
) -> list[tuple[int, int, list[int]]]:
    """Codebooks trained on IVF RESIDUALS (vector − its coarse-cell
    centroid) — the codebooks ``ivf_pq_topk`` actually quantizes with
    (Jégou et al. 2011 §V: the residual distribution is concentrated
    around zero, so the same code budget buys far finer resolution than
    raw-vector training; tools/scale_pq.py measures the recall gap).
    MUST be paired with an ``ivf_pq_topk`` call using the same
    (kc, coarse_rounds→rounds, stride, scale): the integer coarse
    quantizer is bit-replayable, so training and serving rebuild the
    identical cells without shipping centroids."""
    vectors = integerize_embeddings(emb, scale=scale).localCheckpoint(
        eager=False
    )
    cents = kmeans_fit(vectors, kc, coarse_rounds, stride=stride)
    # carry_q: the assignment row already holds the vector, so the
    # residual projection needs only the broadcast centroid join — the
    # assignment ⋈ vectors re-shuffle is gone (r16, guide §2.4).
    assign = assign_clusters(vectors, cents, carry_q=True)
    resid = (
        assign.join(F.broadcast(cents), "cluster_id")
        .select(
            "vec_id",
            F.zip_with("q", "c", lambda a, b: a - b).alias("q"),
        )
        .localCheckpoint(eager=False)
    )
    return _train_subspace_codebooks(resid, m, ncodes, subdim, rounds, stride)


def encode_residual_codes(
    vectors: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    m: int,
    subdim: int,
) -> DataFrame:
    """IVF-PQ encode core, shared by ``ivf_pq_topk`` and the persisted
    ``vector_store.build_pq_store``/``append_pq_vectors`` pair:
    integerized ``(vec_id, q)`` vectors → nearest coarse cell →
    PQ-coded residual per subspace. Returns ``(vec_id, cluster_id, s,
    code)`` — the m-rows-per-vector code table, the at-rest shape of a
    compressed vector store (m small ints instead of dim floats).
    ``cents`` and ``cb`` are broadcast model state; one vector pass."""
    # carry_q: the assignment row already holds the vector, so there is
    # no assignment ⋈ vectors re-join — the encode pass touches the
    # corpus once.
    assign = assign_clusters(vectors, cents, carry_q=True)
    resid = (
        assign.join(F.broadcast(cents), "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            F.zip_with("q", "c", lambda a, b: a - b).alias("q"),
        )
    )
    _rq = _dim_checked(m, subdim, "ivf_pq residual")
    rsub = resid.select(
        "vec_id",
        "cluster_id",
        F.posexplode(
            F.array(*[F.slice(_rq, s * subdim + 1, subdim) for s in range(m)])
        ).alias("s", "sub"),
    )
    # In-row argmin over the packed codebook (r16): the old path fanned
    # every vector out to m·ncodes distance rows and shuffled them back
    # through a groupBy argmin; this is a 1:1 broadcast join + pure
    # projection — the encode pass has no exchange at any corpus scale.
    return (
        rsub.join(F.broadcast(_packed_codebooks(cb)), "s")
        .select("vec_id", "cluster_id", "s", _inrow_code("sub").alias("_m"))
        .select("vec_id", "cluster_id", "s", F.col("_m.code").alias("code"))
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    kc: int = 8,
    nprobe: int = 2,
    rounds: int = 2,
    codebooks: list[tuple[int, int, list[int]]] | None = None,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
    stride: int = 29,
    _vectors: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the full billion-scale ANN recipe (Jégou et al. 2011 §V;
    the FAISS IVFPQ layout) — a k-means coarse quantizer partitions the
    corpus into kc cells, each vector stores only its PQ-coded RESIDUAL
    (vector − cell centroid), and a query scores candidates in its
    ``nprobe`` nearest cells only. Compared to q150's flat PQ scan this
    cuts the scored fraction to ~nprobe/kc of the corpus, and residual
    coding concentrates what the codebook must represent around the
    cell centroid — the standard recall-per-bit win.

    All stages inherit the package's integer discipline (coarse k-means
    from operators/clustering.py, integer residuals, integer codebooks)
    so the ENTIRE pipeline — train, assign, encode, probe, ADC — is
    hash-exact (q151). Plan: centroids and codebooks are broadcast model
    state; the corpus makes ONE assignment pass and ONE encode pass
    (both codegen folds + in-row ``array_min`` argmins over a packed
    broadcast row — map-only, no exchange); the query table
    is |Q|·nprobe·m·ncodes rows on a broadcast; the scoring join touches
    only code rows whose cell is probed — the inverted-list pruning,
    expressed relationally as the (cell, s, code) equi-join.

    Returns ``(query_id, neighbor_id, cell_id, adist, rank)``, self
    excluded, ranked (adist asc, neighbor_id asc)."""
    if codebooks is None:
        codebooks = formula_codebooks(m=m, subdim=subdim)
    spark = emb.sparkSession
    cb = spark.createDataFrame(codebooks, "s int, code int, c array<long>")

    # ``_vectors``: a caller-shared integerized+checkpointed frame —
    # ivf_pq_rerank_topk passes its own so the corpus integerize pass
    # runs once for shortlist AND rerank instead of once each (r16).
    vectors = (
        _vectors
        if _vectors is not None
        else integerize_embeddings(emb, scale=scale).localCheckpoint(
            eager=False
        )
    )
    cents = kmeans_fit(vectors, kc, rounds, stride=stride)

    codes = encode_residual_codes(vectors, cents, cb, m, subdim)
    qv = vectors.where(query_pred(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    qtable = probe_query_table(qv, cents, cb, m, subdim, nprobe)
    return adc_score_codes(codes, qtable, k)


def ivf_pq_rerank_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    shortlist: int = 20,
    kc: int = 8,
    nprobe: int = 2,
    rounds: int = 2,
    codebooks: list[tuple[int, int, list[int]]] | None = None,
    m: int = 4,
    subdim: int = 16,
    scale: int = 1000,
    stride: int = 29,
) -> DataFrame:
    """IVF-PQ with EXACT RERANK — the full production ANN serving
    pattern (Jégou et al. 2011 §VII; every deployed IVF-PQ system's
    default): the compressed index produces a ``shortlist``-sized ADC
    candidate set per query, then the true integer squared-L2 is
    computed for ONLY those |Q|·shortlist pairs and the final top-k is
    ranked on it. ADC ordering errors inside the shortlist cost nothing
    — recall at fixed code budget jumps accordingly (measured in
    tools/scale_pq.py: +0.3 recall@10 over raw ADC at m=8/nc=16) —
    while the full-vector reads stay bounded by the shortlist, not the
    corpus. All integer end to end, so the composite is as hash-exact
    as q151 (q154). Returns ``(query_id, neighbor_id, dist, rank)``."""
    # ONE integerized corpus frame shared by the IVF-PQ shortlist and
    # both rerank sides — the rerank used to integerize the corpus a
    # second time (r16, guide §1.2: don't recompute what you have).
    v = integerize_embeddings(emb, scale=scale).localCheckpoint(eager=False)
    short = ivf_pq_topk(
        emb, query_pred, k=shortlist, kc=kc, nprobe=nprobe, rounds=rounds,
        codebooks=codebooks, m=m, subdim=subdim, scale=scale, stride=stride,
        _vectors=v,
    ).select("query_id", "neighbor_id")
    dist = F.aggregate(
        F.zip_with("qq", "nq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rr = (
        short.join(
            v.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq")),
            "query_id",
        )
        .join(
            v.select(
                F.col("vec_id").alias("neighbor_id"), F.col("q").alias("nq")
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", dist.alias("dist"))
    )
    return top_k_per_group(
        rr,
        ["query_id"],
        [F.col("dist").asc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    ).select("query_id", "neighbor_id", "dist", "rank")


def probe_query_table(
    qv: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    m: int,
    subdim: int,
    nprobe: int,
) -> DataFrame:
    """IVF-PQ probe side, shared by ``ivf_pq_topk`` and the persisted
    store's ``pq_store_topk``: integerized queries ``(query_id, qq)`` →
    nprobe nearest coarse cells by EXACT centroid distance → per probed
    cell the residual ADC distance table ``(query_id, cell, s, code,
    tdist)`` — |Q|·nprobe·m·ncodes rows of broadcast-sized state."""
    cdist = F.aggregate(
        F.zip_with("qq", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qcells = top_k_per_group(
        qv.crossJoin(F.broadcast(cents)).select(
            "query_id", "cluster_id", "qq", "c", cdist.alias("cdist")
        ),
        ["query_id"],
        [F.col("cdist").asc(), F.col("cluster_id").asc()],
        nprobe,
    ).select(
        "query_id",
        F.col("cluster_id").alias("cell"),
        F.zip_with("qq", "c", lambda a, b: a - b).alias("q"),
    )
    _rq = _dim_checked(m, subdim, "ivf_pq query")
    qrsub = qcells.select(
        "query_id",
        "cell",
        F.posexplode(
            F.array(*[F.slice(_rq, s * subdim + 1, subdim) for s in range(m)])
        ).alias("s", "sub"),
    )
    dist = F.aggregate(
        F.zip_with("sub", F.col("_cc.c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # Same packed-codebook broadcast shape as the encoder (r16): the one
    # broadcast relation serves encode AND probe (exchange reuse), and
    # the per-code fan-out explodes it on the |Q|·nprobe·m rows only.
    return (
        qrsub.join(F.broadcast(_packed_codebooks(cb)), "s")
        .select("query_id", "cell", "s", "sub", F.explode("_codes").alias("_cc"))
        .select(
            "query_id", "cell", "s", F.col("_cc.code").alias("code"),
            dist.alias("tdist"),
        )
    )


def adc_score_codes(codes: DataFrame, qtable: DataFrame, k: int) -> DataFrame:
    """ADC scoring + final ranking over an IVF-PQ code table: the
    (cell, s, code) equi-join IS the inverted-list pruning — only code
    rows in probed cells match; the code side NEVER shuffles (qtable
    rides a broadcast) and the per-(query, neighbor) sum is map-side
    combinable. Returns ``(query_id, neighbor_id, cell_id, adist,
    rank)``, self excluded."""
    scored = (
        codes.join(
            F.broadcast(qtable),
            (F.col("cluster_id") == F.col("cell"))
            & (codes["s"] == qtable["s"])
            & (codes["code"] == qtable["code"])
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster_id").alias("cell_id"),
        )
        .agg(F.sum("tdist").alias("adist"))
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("adist").asc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    ).select(
        "query_id",
        "neighbor_id",
        F.col("cell_id").cast("long").alias("cell_id"),
        "adist",
        "rank",
    )
