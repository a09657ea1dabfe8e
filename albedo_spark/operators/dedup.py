"""Deduplication operators for large text corpora.

Not in the reference (its nearest neighbor is MinHashLSH suggested for the
content recommender rewrite, SURVEY.md §7.4); these are the
training-data-pipeline extensions (BASELINE.json north star), built to scale:

- ``exact_duplicates`` / ``exact_dedup``: hash-groupBy on a normalized text
  digest. One shuffle on a 32-hex key; at 100 TB use it first — it kills the
  bulk of duplication for pennies.
- ``minhash_lsh_pairs``: shingle → per-band min-hash → bucket self-join.
  Candidate generation never compares all pairs; cost is bounded by bucket
  sizes (cap via ``max_bucket``) — the standard MinHash-LSH design (Broder;
  MMDS ch.3).
- ``jaccard_verify`` / ``ngram_jaccard_pairs``: exact token/shingle-set
  Jaccard via explode + equi-join — used to verify LSH candidates, or
  standalone at small scale (it is quadratic per bucket only).

All hashing is ``md5`` so results are engine-portable (the DuckDB oracle
computes the identical signature) and stable across Spark versions —
unlike ``xxhash64``/``hash`` whose seeds differ between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Canonical form for exact-dup hashing: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-SPLIT word array.

    Feed it a materialized array column, not an inline ``split(...)``
    expression: the ``transform`` lambda re-evaluates captured subtrees per
    element, so an inlined split would re-run the regex once per shingle
    position (measured ~3× slower on the documents table). Texts shorter
    than n words yield a single whole-text shingle so no document silently
    vanishes.
    """
    joined = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return F.array_distinct(joined)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column as ``array<string>``.

    Convenience form that inlines the split; prefer materializing the word
    array and calling ``shingles_from_words`` in hot paths (see its note on
    lambda re-evaluation).
    """
    return shingles_from_words(F.split(normalize_text(col), " "), n)


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates: (digest, n_dups, min doc id as keeper).

    Single hash-shuffle; map-side combine makes the common all-unique case
    cheap. Output only groups with >1 member. NULL texts carry no content to
    compare, so they are excluded rather than lumped into one NULL-digest
    "duplicate" group.

    NULL policy differs from ``exact_dedup`` BY DESIGN: this reporter drops
    NULL-text rows (they form no group), while ``exact_dedup`` passes them
    through to its output (dropping them there would be data loss). A caller
    composing "report groups, then dedup" will therefore see NULL-text rows
    in the deduped output but never in a group report.
    """
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(normalize_text(F.col(text_col))).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per normalized-text digest.

    NULL texts pass through unchanged: md5(NULL) is NULL and a null-unsafe
    join key would silently drop every NULL-text row (data loss, not dedup),
    so rows without text are exempt from deduplication rather than hashed.

    NULL policy differs from ``exact_duplicates`` BY DESIGN: the group
    reporter excludes NULL-text rows entirely (nothing to compare), while
    this operator keeps them. See its docstring for the composition caveat.
    """
    null_rows = df.where(F.col(text_col).isNull())
    w_digest = df.where(F.col(text_col).isNotNull()).withColumn(
        "_digest", F.md5(normalize_text(F.col(text_col)))
    )
    keepers = w_digest.groupBy("_digest").agg(F.min(id_col).alias(id_col))
    deduped = w_digest.join(keepers, ["_digest", id_col], "inner").drop("_digest")
    return deduped.unionByName(null_rows)


def minhash_signature(col: Column, num_hashes: int, shingle_n: int = 3) -> Column:
    """Array of ``num_hashes`` min-hash values (hex strings) for a text column.

    Hash family i = md5(i || ':' || shingle); the min over shingles
    approximates Jaccard similarity per MinHash. md5 keeps it portable
    (same values in the DuckDB oracle).
    """
    from albedo_spark.functions.arrays import bind

    def hash_i(i: int):
        prefix = f"{i}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    # Bind the shingle array once: the num_hashes min-scans read the
    # materialized value instead of re-shingling per hash family.
    return bind(
        word_shingles(col, shingle_n),
        lambda sh: F.array(
            *[F.array_min(F.transform(sh, hash_i(i))) for i in range(num_hashes)]
        ),
    )


def minhash_sig_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document minhash signature columns ``(id, _h0.._hN)``.

    The shared signature stage of ``minhash_lsh_pairs`` and the
    incremental store (``dedup_store``): explode shingles once, hash each
    row ``num_hashes`` ways, min-agg per doc. (A projection-based
    signature looks cheaper but Catalyst's project collapse re-inlines
    the shingle expression into every hash column — recomputing the
    shingling num_hashes times. The explode form computes shingles once
    and the groupBy min is map-side-combined.)
    """
    from albedo_spark.io import widen

    # Materialize the word array BELOW the widen() exchange: the shuffle
    # is a project-collapse barrier, so the split regex runs once per doc
    # and the shingle lambda references the materialized array.
    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    exploded = widen(words).select(
        F.col(id_col),
        F.explode(shingles_from_words(F.col("_w"), shingle_n)).alias("_sh"),
    )
    return exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("_sh")))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    ``num_hashes`` minhashes grouped into bands of ``rows_per_band`` rows;
    the band key is md5 over the band's minhash values, so a bucket
    collision needs all ``rows_per_band`` hashes equal — the classic
    b-bands × r-rows S-curve (P(candidate) = 1-(1-s^r)^b). r≥2 matters on
    low-entropy corpora where single-hash buckets degenerate.

    Plan shape at scale: one narrow projection computes the shingle array
    and signature per doc (shingles materialized once, not per hash) →
    explode to (band, key, id) → bucket-size cap (``max_bucket``, applied
    identically in the oracle) → self-equi-join on (band, key). Never a
    cross join. Returns distinct (id_a < id_b); verify with
    ``jaccard_verify``.
    """
    num_bands = num_hashes // rows_per_band
    sig = minhash_sig_table(df, text_col, id_col, num_hashes, shingle_n)
    band_keys = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"_h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    sizes = band_keys.groupBy("band", "bkey").agg(F.count("*").alias("_bs"))
    # capped feeds BOTH sides of the self-join below; the lazy
    # checkpoint materializes the signature+cap subtree once instead of
    # relying on exchange reuse to dedupe it (the jaccard_verify
    # three-reads discipline)
    capped = (
        band_keys.join(
            sizes.where(F.col("_bs") <= max_bucket), ["band", "bkey"]
        )
        .drop("_bs")
        .localCheckpoint(eager=False)
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard over all co-occurring pairs.

    Explode distinct shingles → self-equi-join on shingle → count
    intersections → Jaccard = inter / (|A|+|B|-inter). Only pairs sharing at
    least one shingle are ever materialized, so the complexity is driven by
    shingle document-frequency, not |docs|².

    ``max_df`` is the 100 TB guard: shingles appearing in more than
    ``max_df`` documents are dropped BEFORE the self-join (stop-shingles
    generate df² candidate rows while carrying no discriminative signal —
    one shingle in half the corpus is a quadratic blowup by itself). The
    cap is applied consistently to set sizes AND intersections, so the
    result is the true Jaccard over the reduced shingle universe — scores
    shift slightly (documented approximation), near-dup pairs whose
    similarity lives in rare shingles are preserved. ``None`` (default)
    keeps the exact semantics the q20 oracle replays; alternatively use
    ``minhash_lsh_pairs`` to pre-filter and this as the verifier.
    """
    from albedo_spark.io import widen

    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    # Lazy checkpoint (r16, the q96 fix): tok feeds THREE consumers (both
    # self-join sides + the sizes aggregate; four with the stop-shingle
    # guard) — without the barrier the scan + normalize + explode subtree
    # is planned and executed once per consumer.
    tok = (
        widen(words)
        .select(
            F.col(id_col),
            F.explode(shingles_from_words(F.col("_w"), n)).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        stop = (
            tok.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("sh")
        )
        # anti-join, not isin: the stop-shingle list is data-sized, never
        # a driver-side collect
        tok = tok.join(stop, "sh", "left_anti").localCheckpoint(eager=False)
    sizes = tok.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = tok.alias("a").join(
        tok.alias("b"),
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    inter = (
        a.groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold_num: int = 9,
    threshold_den: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Directed shingle-set CONTAINMENT pairs: ``C(A→B) = |A∩B| / |A|``
    ≥ threshold means A's shingles (nearly) all appear in B — the
    doc-in-doc detector Jaccard structurally misses: a 20-word quote
    inside a 2000-word article has Jaccard ≈ 0.01 but containment 1.0.
    This is the snippet/quote/boilerplate-extraction dual of
    ``ngram_jaccard_pairs``, the asymmetric member of the near-dup
    family (dedup wants the SNIPPET dropped and the container kept).

    Output ``(contained_id, container_id, inter, size_contained,
    cont_x10k)`` — one row per direction that clears the threshold
    (mutual containment emits both). The threshold is an exact integer
    rational (``inter·den ≥ size·num``, the q128 discipline) and
    ``cont_x10k = (10⁴·inter) div size`` — pure BIGINT, so oracles hash
    values, not tolerances.

    Plan: the SAME inverted-index machinery as the Jaccard operator
    (one explode, one df-driven self-equi-join, never |docs|²; the
    ``max_df`` stop-shingle guard applies identically) — the undirected
    intersection is computed ONCE and both direction checks are
    projections of it.
    """
    from albedo_spark.io import widen

    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    # Lazy checkpoint (r16, the q96 fix): tok feeds three to four
    # consumers — one scan + explode instead of one per consumer.
    tok = (
        widen(words)
        .select(
            F.col(id_col),
            F.explode(shingles_from_words(F.col("_w"), n)).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        stop = (
            tok.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("sh")
        )
        tok = tok.join(stop, "sh", "left_anti").localCheckpoint(eager=False)
    sizes = tok.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = tok.alias("a").join(
        tok.alias("b"),
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    inter = a.groupBy(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    ).agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    both = inter.join(sa, "id_a").join(sb, "id_b")
    fwd = both.where(
        F.col("inter") * threshold_den >= F.col("size_a") * threshold_num
    ).select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        "inter",
        F.col("size_a").alias("size_contained"),
    )
    rev = both.where(
        F.col("inter") * threshold_den >= F.col("size_b") * threshold_num
    ).select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        "inter",
        F.col("size_b").alias("size_contained"),
    )
    return fwd.unionByName(rev).select(
        "contained_id",
        "container_id",
        "inter",
        "size_contained",
        F.expr("(10000 * inter) div size_contained").alias("cont_x10k"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (PPJoin-style;
    Bayardo et al. WWW'07 / Xiao et al. WWW'08) — every pair with shingle
    Jaccard ≥ num/den, at a fraction of the inverted-index join's cost.

    The candidate-generation theorem: order the shingle universe globally
    (here by ascending document frequency, ties lexicographic — rarest
    first) and let a document's PREFIX be its first ``|d| - ceil(τ|d|) + 1``
    shingles in that order. Any two sets with J ≥ τ share at least one
    shingle in BOTH prefixes (the smallest common shingle is in each side's
    prefix: a set's suffix holds only ``ceil(τ|d|) - 1 < τ|d| ≤ |A∩B|``
    elements). So self-joining on PREFIX shingles only is complete — and
    because prefixes are the RAREST shingles, the join's per-key fan-out is
    bounded by rare-shingle document frequencies instead of stop-shingle
    df² (the blowup ``ngram_jaccard_pairs``'s ``max_df`` cap exists to
    amputate, with a recall trade this operator doesn't make). At τ = 0.7
    the prefix is ~30% of each document's shingles, and candidate pairs
    drop by the SQUARE of the per-key fan-out reduction.

    Threshold is an exact integer rational (num/den): the candidate filter
    compares ``inter * den ≥ num * union`` and the returned score is
    ``jaccard_x10k = (inter * 10^4) div union`` — BIGINT end-to-end, no
    float tolerance (the q105/q121 discipline).

    Shingles are hashed to 60-bit longs (md5-prefix, the portable q31
    draw) BEFORE set algebra, so every downstream structure — df counts,
    ordered arrays, the intersect verify — is integer, not string: the
    verify stage's ``array_intersect`` drops from hashing ~100 20-char
    strings per pair to comparing longs (measured 6.6 → 2.1 s at sf0.1,
    now FASTER than the brute inverted-index join it replaces). The
    semantic is Jaccard over hashed shingle sets: a 60-bit collision
    (~10⁻¹⁸ per pair) could merge two shingles, and the oracle hashes
    identically so the gate replays bit-for-bit regardless.

    Plan: one shingle explode (lazily checkpointed — it feeds the df count
    AND the per-doc ordered array), one df aggregate, one per-doc sort,
    prefix explode → self-equi-join on shingle → distinct pairs → exact
    array-intersect verify (arrays joined back from the same checkpointed
    frame, referenced three times). At 100 TB: no cap needed for
    correctness; if one shingle still saturates a reducer, salt the
    candidate join or pre-drop exact duplicates (``exact_dedup``) first.
    """
    from albedo_spark.io import widen

    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    # distinct AFTER hashing (array_distinct on the hashed array), so a
    # collision inside one document merges the two shingles exactly as
    # the oracle's DISTINCT (doc_id, hashed) does
    hashed = F.array_distinct(
        F.transform(
            shingles_from_words(F.col("_w"), shingle_n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    )
    sh = (
        widen(words)
        .select(F.col(id_col), F.explode(hashed).alias("sh"))
        .localCheckpoint(eager=False)
    )
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    arrs = (
        sh.join(dfreq, "sh")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("sh")))
            ).alias("_o")
        )
        .select(
            F.col(id_col),
            F.transform(F.col("_o"), lambda s: s["sh"]).alias("shset"),
            F.size("_o").alias("s"),
        )
        .withColumn(
            "p",
            F.col("s")
            - F.expr(
                f"({threshold_num}*s + {threshold_den} - 1) div {threshold_den}"
            )
            + F.lit(1),
        )
        .localCheckpoint(eager=False)
    )
    pref = arrs.select(
        F.col(id_col),
        F.col("s"),
        F.explode(F.slice(F.col("shset"), F.lit(1), F.col("p"))).alias("sh"),
    )
    # Length filter (r16, PPJoin's second filter — exactness-preserving):
    # J ≥ n/d forces d·min(|A|,|B|) ≥ n·max(|A|,|B|) (the intersection is
    # at most the smaller set and at least τ times the larger), so
    # size-incompatible pairs drop INSIDE the candidate join, before the
    # distinct and the array-intersect verify ever see them. The verify
    # stays exact — this only removes pairs it would reject anyway.
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.s") * threshold_den >= F.col("b.s") * threshold_num)
            & (F.col("b.s") * threshold_den >= F.col("a.s") * threshold_num),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = arrs.select(
        F.col(id_col).alias("id_a"), F.col("shset").alias("sh_a"), F.col("s").alias("s_a")
    )
    sb = arrs.select(
        F.col(id_col).alias("id_b"), F.col("shset").alias("sh_b"), F.col("s").alias("s_b")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(
            F.col("inter") * F.lit(threshold_den)
            >= F.lit(threshold_num) * (F.col("s_a") + F.col("s_b") - F.col("inter"))
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(inter * 10000) div (s_a + s_b - inter)").alias("jaccard_x10k"),
        )
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard check of LSH candidate pairs: join shingle sets back on
    both sides, compute set Jaccard natively (array_intersect on the two
    shingle arrays — fine because each row holds just two documents).

    Shingles are computed only for documents that appear in a candidate
    pair (semi-join first) — at scale candidates ≪ corpus. The candidate
    DataFrame is materialized once because it is referenced three times
    below — without it the whole upstream LSH DAG would recompute per
    reference (the reference's IntermediateCacher exists for exactly
    this, S/transformers/IntermediateCacher.scala:10-40). Lazy
    localCheckpoint, NOT persist: this function returns a lazy frame so
    it could never unpersist its own cache, and a CacheManager entry
    lives until explicitly dropped — checkpoint blocks are released by
    the ContextCleaner once the caller drops the result (the
    ``line_boilerplate_dedup`` leak-fix discipline).
    """
    candidates = candidates.localCheckpoint(eager=False)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    from albedo_spark.io import widen

    words = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
    )
    sh = (
        widen(words)
        .select(
            F.col(id_col),
            shingles_from_words(F.col("_w"), shingle_n).alias("sh"),
        )
        # referenced TWICE below (the id_a and id_b sides): without a
        # materialization boundary the whole scan+semi-join+shingle
        # subtree executes once per side (two identical SMJ branches in
        # the executed plan) — the same three-reads discipline as the
        # candidates frame above
        .localCheckpoint(eager=False)
    )
    out = (
        candidates.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def simhash(col: Column, num_bits: int = 32) -> Column:
    """SimHash of a text column as a non-negative bigint.

    Token hash = first 8 hex chars of md5 (32 bits via ``conv``); bit i of
    the fingerprint is the sign of sum over tokens of ±1 on that bit. Pure
    expressions — the per-bit sums run inside one projection over the token
    array, no explode, no UDF. Near-dups then group by fingerprint or by
    Hamming-ball probes.
    """
    from albedo_spark.functions.arrays import bind

    words = F.array_distinct(F.split(normalize_text(col), " "))
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )

    def bit_vote(i: int):
        mask = 1 << i
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    def fold_bits(hs: Column) -> Column:
        # hs is the BOUND hash array: the 32 per-bit aggregates scan the
        # materialized value instead of re-hashing every word 32 times
        # (functions.arrays.bind — expressions are trees, not values).
        bits = [
            F.when(
                F.aggregate(hs, F.lit(0), bit_vote(i)) > 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(num_bits)
        ]
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    return bind(hashes, fold_bits)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy-duplicate id pairs: shared-token blocking + Levenshtein verify.

    Entity-resolution shape (record-linkage blocking; cf. Fellegi-Sunter):
    candidates are pairs of rows whose normalized texts share at least one
    whitespace token (an inverted-index equi-join, like ``ngram_jaccard_pairs``
    with n=1 — never all-pairs), verified with the built-in ``levenshtein``
    (JVM codegen, no UDF). Prefix blocking would miss head edits
    ("cold ring" / "old ring"); a shared token catches any pair that keeps
    one word intact, which is the right recall/cost trade for short strings
    (names, titles). Run ``exact_dedup`` first so identical texts don't
    re-verify pairwise.

    At 100 TB: cost is bounded by per-token posting-list sizes, so drop
    stopword-grade tokens (df-capped) before joining if the corpus has them;
    the verify is O(len_a * len_b) per candidate — keep it for short fields,
    use MinHash for documents.
    """
    base = df.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("t")
    ).where(F.length("t") > 0)
    tok = base.select("id", "t", F.explode(F.split("t", " ")).alias("w")).dropDuplicates(
        ["id", "w"]
    )
    a, b = tok.alias("a"), tok.alias("b")
    cand = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.t").alias("t_a"),
            F.col("b.t").alias("t_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.where(F.abs(F.length("t_a") - F.length("t_b")) <= max_dist)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("t_a", "t_b").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= max_dist)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected pair graph → (node,
    component) with component = min node id in the component. The step
    that turns near-dup PAIRS into dedup GROUPS (pick one keeper per
    component) — at corpus scale a doc can pair with many near-dups and
    naive per-pair keeper selection double-drops.

    Algorithm: iterative HashMin label propagation (label = smallest id
    seen) with a path-halving step (label := label of one's label) each
    round, so convergence is O(log diameter) rather than O(diameter) —
    the pointer-jumping idea behind the two-phase star-contraction
    algorithms used for web-scale graphs. Each iteration is two
    equi-joins + one aggregate (all key-partitioned shuffles, AQE handles
    skewed hub nodes); ``localCheckpoint`` truncates the growing lineage
    every round, the iterative-algorithm failure mode SURVEY §7.4 flags
    for ALS. The driver loop runs O(log diameter) times and moves only a
    convergence counter, never data.
    """
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # Persist the edge frame PRE-PARTITIONED on src — the per-round
    # HashMin join's key. The repartition sits BELOW the distinct:
    # hash(src) is a subset of the distinct's (src, dst) keys, so the
    # distinct aggregates in-task over it (no second exchange — same
    # exchange count as the bare distinct had) and the persisted frame
    # keeps hash(src) partitioning, so no round re-shuffles the edge
    # frame (the r15 HITS co-partition lesson, guide §2.4). An
    # after-the-distinct repartition measured 30% SLOWER at bench scale
    # (one extra tiny exchange per call); this form is exchange-neutral
    # locally and edge-shuffle-free per round at any scale.
    edges = sym.repartition("src").distinct().persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = None
    try:
        for _ in range(max_iter):
            # HashMin: pull the smallest label from the neighborhood
            prop = edges.join(
                labels.withColumnRenamed("node", "src"), "src"
            ).select(F.col("dst").alias("node"), "label")
            merged = (
                labels.unionByName(prop)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # merged feeds BOTH sides of the path-halving self-join
            # below; without a boundary the HashMin aggregate subtree
            # executes once per side (exchange reuse does not cover the
            # differently-keyed lab2 rename). Lazy: the round's
            # convergence sum materializes it.
            merged = merged.localCheckpoint(eager=False)
            # path halving: adopt one's label's own label (pointer jumping)
            lab2 = merged.select(
                F.col("node").alias("label"), F.col("label").alias("label2")
            )
            # LAZY checkpoint: the convergence sum below is the round's
            # only action, so it MATERIALIZES the checkpoint as a side
            # effect — one job per round instead of eager-materialize +
            # sum (two). Lineage still truncates at materialization, and
            # the next round's joins read the checkpointed RDD.
            jumped = (
                merged.join(lab2, "label", "left")
                .select(
                    "node",
                    F.least("label", F.coalesce("label2", "label")).alias(
                        "label"
                    ),
                )
                .localCheckpoint(eager=False)
            )
            # Convergence via the label-sum invariant: every step is
            # non-increasing per node (min over neighborhood, then min with
            # the label's label), so ANY change strictly decreases
            # sum(label) — one aggregate on the just-checkpointed frame
            # replaces the old join-against-previous-labels count job.
            # decimal(38,0) so the sum never overflows at web-graph scale.
            label_sum = jumped.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            labels = jumped
            if label_sum == prev_sum:
                break
            prev_sum = label_sum
    finally:
        # per-round eager checkpoints mean nothing pending reads the
        # edge cache at exit — release it even if a round failed
        edges.unpersist()
    return labels


def keeper_by_quality(
    components: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_x10k",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Canonical-document election per near-dup component: given
    ``connected_components`` output ``(node, label)`` and a per-document
    score frame ``(id, score)``, keep the HIGHEST-scoring member of each
    component (ties → smallest id) — ``(doc_id, component_id, score,
    keeper_id, is_kept)``.

    Min-id keepers (the digest/incremental stores' rule) are the right
    default when members are byte-identical; for NEAR-dups the members
    genuinely differ, and a curation pipeline wants to discard the
    boilerplate-laden or truncated variants, not whichever happened to
    crawl first — the canonicalization step of the standard fuzzy-dedup
    recipe (pair graph → components → best-member election).

    One equi-join (component membership is tiny next to the corpus —
    only docs that near-dup anything) + one window over ``label``:
    ``first(id)`` under a (score DESC, id ASC) total order with an
    unbounded frame, so every member row carries its component's elected
    keeper without a second join. At 100 TB: a single shuffle on the
    component label; component cardinality is bounded by the pair
    graph's bucket caps upstream, and AQE splits the rare mega-cluster.
    The (score, id) order is a deterministic total order, so the
    election is engine-replayable (integer scores per the catalog's
    x10k discipline — never elect on raw doubles)."""
    from pyspark.sql import Window

    members = components.select(
        F.col(node_col).alias(id_col), F.col(label_col).alias("component_id")
    ).join(scored, id_col)
    w = (
        Window.partitionBy("component_id")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return members.select(
        id_col,
        "component_id",
        score_col,
        F.first(id_col).over(w).alias("keeper_id"),
    ).withColumn("is_kept", F.col(id_col) == F.col("keeper_id"))


def line_boilerplate_dedup(
    docs: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate removal: delete every
    line whose normalized form (trim + lowercase) appears in at least
    ``min_df`` DISTINCT documents — nav menus, cookie banners, copyright
    footers — and reassemble each document from its surviving lines in
    original order. The corpus-hygiene step between doc-level repetition
    (`textstats.repetition_signals`) and doc-level near-dup (`minhash_*`):
    duplication ACROSS documents at line granularity.

    Semantics: distinct-document frequency (not occurrence count), so a
    document repeating its own line never self-flags — intra-doc
    repetition is q67's domain. Blank/NULL lines are structure, not
    content: never counted, never removed. NULL-text documents survive
    with empty output text (posexplode_outer), because dropping rows is
    data loss, not dedup (the `exact_dedup` NULL precedent).

    Plan shape at 100 TB: posexplode lines ONCE into a lazily
    local-checkpointed stream (materialized at first action; both
    consumers below read it without re-scanning the corpus). A plain
    ``persist()`` here would leak: this function returns a lazy frame so
    it can never unpersist its own cache, and a CacheManager entry lives
    until explicitly dropped — whereas local-checkpoint blocks are
    released by the ContextCleaner once the caller drops the result
    (repeated corpus-loop invocations stay flat). Line identity is a fixed
    32-hex md5 so every shuffle row is narrow. One distinct+groupBy on
    the key builds the document-frequency table; the boilerplate keys
    (only lines ABOVE threshold — usually tiny) come back via an equi-join
    that AQE converts to broadcast when runtime stats allow; one final
    groupBy on the doc id reassembles (collect_list of (pos, line)
    structs, bounded by lines-per-doc). Exact df needs a full pass before
    any removal decision — inherent to the semantics, and linear.

    Output: (id, text, n_lines, n_removed); applying the operator twice
    is a no-op (survivor lines have df < min_df by construction —
    property-tested).
    """
    keyed = docs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), line_sep)
        ).alias("_pos", "_line"),
    ).withColumn(
        "_k",
        F.when(
            F.trim(F.lower(F.col("_line"))) != "",
            F.md5(F.trim(F.lower(F.col("_line")))),
        ),
    ).localCheckpoint(eager=False)
    boiler = (
        keyed.where(F.col("_k").isNotNull())
        .select("_k", id_col)
        .distinct()
        .groupBy("_k")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_k", F.lit(1).alias("_b"))
    )
    marked = keyed.join(boiler, "_k", "left")
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            line_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_b").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias(text_col),
        F.count("_pos").alias("n_lines"),
        F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_removed"),
    )


def remove_repeated_spans(
    docs: DataFrame,
    span_tokens: int = 4,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style cross-document repeated-span removal (the
    substring-granular dedup of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — public paper; their suffix-array
    machinery re-expressed as rolling token-window hashing): delete every
    token covered by some window of ``span_tokens`` consecutive
    normalized tokens that occurs in at least ``min_df`` DISTINCT
    documents, then reassemble each document from its surviving tokens in
    order. The granularity between ``line_boilerplate_dedup`` (structural
    lines) and doc-level MinHash (whole documents): license boilerplate,
    quoted passages, templated sentences.

    Semantics mirror the line operator: distinct-DOCUMENT frequency (a
    doc repeating its own phrase never self-flags), marked spans removed
    EVERYWHERE they occur (symmetric — no keeper choice, so the output is
    deterministic and engine-replayable), overlapping marked spans union
    their cover, docs shorter than one span are untouched, NULL-text docs
    survive with empty text. Output ``(id, text, n_tokens, n_removed)``.

    Plan shape at 100 TB: the tokenized array materializes once per doc
    into a lazily local-checkpointed frame (two consumers below — span
    hashing and the token stream — must not re-scan the corpus); rolling
    windows are an array-slice ``transform`` (JVM HOF, one md5 per
    window, narrow 32-hex shuffle rows); one distinct+groupBy builds the
    document-frequency table; marked spans come back via an
    AQE-broadcastable join (repeated spans are the tail, usually tiny);
    covered positions explode ≤ span_tokens rows per marked span; one
    per-doc groupBy reassembles. Everything is linear in corpus tokens.
    """
    nt = normalize_text(F.col(text_col))
    toks = F.when(
        nt == "", F.array().cast("array<string>")
    ).otherwise(F.split(nt, " "))
    base = docs.select(F.col(id_col), toks.alias("_t")).localCheckpoint(
        eager=False
    )
    # Second lazy checkpoint on the HASHED stream: spans feeds both the
    # df aggregate and the covered-positions join, and the per-window
    # md5 transform is the expensive stage — without this, one action
    # hashes every window twice (base's checkpoint sits below the hash).
    spans = (
        base.where(F.size("_t") >= span_tokens)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - span_tokens),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("_t"), i + 1, span_tokens)
                        )
                    ),
                )
            ).alias("_sp", "_h"),
        )
        .localCheckpoint(eager=False)
    )
    boiler = (
        spans.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_h")
    )
    covered = (
        spans.join(boiler, "_h")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("_sp"), F.col("_sp") + F.lit(span_tokens - 1)
                )
            ).alias("_tp"),
        )
        .distinct()
        .withColumn("_b", F.lit(1))
    )
    stream = base.select(
        id_col, F.posexplode_outer("_t").alias("_tp", "_w")
    )
    marked = stream.join(covered, [id_col, "_tp"], "left")
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_b").isNull() & F.col("_w").isNotNull(),
                            F.struct(F.col("_tp"), F.col("_w")),
                        )
                    )
                ),
                lambda s: s["_w"],
            ),
        ).alias(text_col),
        F.count("_tp").alias("n_tokens"),
        F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_removed"),
    )


#: BIGINT-headroom ceiling on a quantized vector's squared norm in
#: semantic_dedup: the threshold test multiplies dot²·10⁴ against
#: t²·na·nb with dot ≤ √(na·nb), so everything stays inside int64 iff
#: every norm ≤ ~9.6e5 (9.6e5² · 10⁴ < 2^63). At cos_scale=100 that is
#: |x| ≲ 1.2 over 64 dims — unit-ish embeddings pass; anything bigger
#: raises instead of wrapping identically in both engines.
_SEM_NA_CEIL = 960_000


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    threshold_x100: int = 90,
    stride: int = 29,
    kmeans_scale: int = 1000,
    cos_scale: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_salt: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): embedding-space near-duplicates
    found by EXACT cosine, but only WITHIN k-means cells — the
    clustering bounds the pair count, turning the corpus-quadratic
    all-pairs join into k cell-local joins (the paper's whole point; at
    100 TB pick k ≈ √N so cells stay join-able, and the cell self-join
    shuffles on cluster_id only — AQE handles skewed cells). The
    missing rung of the dedup ladder between token-overlap near-dup
    (MinHash/SimHash) and exact digests: catches paraphrases sharing
    no shingles.

    Deterministic and engine-exact end to end: the cell assignment is
    the q149 unrolled integer k-means (seeded init, BIGINT means); the
    similarity test quantizes embeddings at ``cos_scale`` and compares
    ``dot² · 10⁴ ≥ t² · na · nb`` with ``dot > 0`` — the squared-cosine
    form of ``cos ≥ t/100`` in pure int64 (no sqrt, no float; a lazy
    tripwire rejects norms past the headroom). Keeper rule is the
    package's min-id convention: a vector is DROPPED iff some SAME-CELL
    neighbor with a smaller id clears the threshold. Returns one row
    per vector: ``(vec_id, cluster_id, kept, dup_of, n_smaller_dups)``
    with ``dup_of`` the smallest qualifying neighbor (−1 if kept).

    Two quantization scales by design: ``kmeans_scale`` (1000) keeps
    cell geometry sharp; ``cos_scale`` (100) buys the headroom the
    int64 threshold test needs. The cosine CONTRACT is over the
    quantized vectors — documented, portable, and what the oracle
    replays.

    ``pair_salt``: the cell self-join's only key is ``cluster_id`` —
    k distinct values, so at bench scale the quadratic pair stage
    lands on ≤k tasks regardless of core count (AQE skew-join cannot
    split a single key). Salting (guide §2.5): replicate the LEFT
    side ``s`` ways and slice the right by ``pmod(vec_id, s)``, joining on
    (cluster_id, salt) — same pair set, k·s-way parallelism, left
    replication costs s·N small rows. Default derives s from
    cores/k and collapses to 1 (the exact old plan) whenever k
    already covers the session's parallelism — the 100 TB case where
    k ≈ √N; it is a local-width balance, not a tuned constant."""
    from albedo_spark.operators.clustering import (
        assign_clusters,
        integerize_embeddings,
        kmeans_fit,
    )

    emb = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    vectors = integerize_embeddings(emb, scale=kmeans_scale).localCheckpoint(
        eager=False
    )
    cents = kmeans_fit(vectors, k, rounds, stride=stride)
    # Consumed twice (the scoring side AND the final attribution join);
    # without a boundary the whole unrolled k-means chain executes per
    # consumer (broadcast builds never share work).
    final = (
        assign_clusters(vectors, cents)
        .select("vec_id", "cluster_id")
        .localCheckpoint(eager=False)
    )
    cq = integerize_embeddings(emb, scale=cos_scale)
    na = F.aggregate(
        F.zip_with("q", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    side = (
        final.join(cq, "vec_id")
        .select(
            "vec_id",
            "cluster_id",
            "q",
            F.when(
                na > F.lit(_SEM_NA_CEIL),
                F.raise_error(
                    F.concat(
                        F.lit("semantic_dedup: squared norm "),
                        na.cast("string"),
                        F.lit(
                            f" exceeds the int64 threshold-test headroom"
                            f" {_SEM_NA_CEIL}; lower cos_scale"
                        ),
                    )
                ).cast("long"),
            )
            .otherwise(na)
            .alias("na"),
        )
        .localCheckpoint(eager=False)  # consumed by both sides of the pair join
    )
    if pair_salt is None:
        par = emb.sparkSession.sparkContext.defaultParallelism
        pair_salt = max(1, (4 * par) // max(k, 1))
    join_keys = ["cluster_id"]
    left = side.select(
        "cluster_id",
        F.col("vec_id").alias("l_id"),
        F.col("q").alias("l_q"),
        F.col("na").alias("l_na"),
    )
    right = side.select(
        "cluster_id",
        F.col("vec_id").alias("r_id"),
        F.col("q").alias("r_q"),
        F.col("na").alias("r_na"),
    )
    if pair_salt > 1:
        join_keys = ["cluster_id", "_s"]
        left = left.withColumn(
            "_s",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(pair_salt - 1).cast("long")
                )
            ),
        )
        # pmod, not %: Spark's % keeps the dividend's sign, so a
        # negative id would land outside 0..s-1 and silently DROP its
        # pairs from the join.
        right = right.withColumn(
            "_s", F.pmod(F.col("r_id"), F.lit(pair_salt)).cast("long")
        )
    dot = F.aggregate(
        F.zip_with("l_q", "r_q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    t = int(threshold_x100)
    dups = (
        left.join(right, join_keys)
        .where(F.col("l_id") < F.col("r_id"))
        .withColumn("_dot", dot)
        .where(
            (F.col("_dot") > 0)
            & (
                F.col("_dot") * F.col("_dot") * F.lit(10_000)
                >= F.lit(t * t) * F.col("l_na") * F.col("r_na")
            )
        )
        .groupBy(F.col("r_id").alias("vec_id"))
        .agg(
            F.min("l_id").alias("dup_of"),
            F.count("*").alias("n_smaller_dups"),
        )
    )
    return final.join(dups, "vec_id", "left").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("dup_of").isNull().alias("kept"),
        F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
        F.coalesce("n_smaller_dups", F.lit(0)).cast("long").alias("n_smaller_dups"),
    )


# ---------------------------------------------------------------------------
# URL/host-layer crawl hygiene (VERDICT r13 #4)
# ---------------------------------------------------------------------------


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per CANONICAL URL — the C4/RefinedWeb front
    door the text-level ladder (exact → MinHash → SemDeDup) runs AFTER:
    the same page fetched twice under tracking-param/fragment/case noise
    is one fetch's worth of text, and dropping it here costs one
    map-side canonicalization + one shuffle instead of a shingling pass.
    NULL urls pass through unchanged (the ``exact_dedup`` NULL posture:
    a null-unsafe join key would silently DROP them — data loss, not
    dedup). Plan: ``canonicalize_url`` is pure map-side regex; the only
    shuffle is the keeper groupBy on the canonical string."""
    from albedo_spark.functions.urls import canonicalize_url

    null_rows = df.where(F.col(url_col).isNull())
    w = df.where(F.col(url_col).isNotNull()).withColumn(
        "_curl", canonicalize_url(F.col(url_col))
    )
    keepers = w.groupBy("_curl").agg(F.min(id_col).alias(id_col))
    return (
        w.join(keepers, ["_curl", id_col], "inner")
        .drop("_curl")
        .unionByName(null_rows)
    )


def url_duplicate_groups(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Reporter twin of ``url_dedup`` (the ``exact_duplicates`` shape):
    one row per canonical URL — ``(canonical_url, n_docs, keeper_id)``,
    keeper = min id. Feed the ``n_docs >= 2`` slice to audits; the full
    frame IS the URL-level dedup decision, gate-hashable end to end."""
    from albedo_spark.functions.urls import canonicalize_url

    return (
        df.where(F.col(url_col).isNotNull())
        .select(canonicalize_url(F.col(url_col)).alias("canonical_url"),
                F.col(id_col))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def host_profile(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-host crawl rollup — ``(host, n_docs, n_urls, n_dup_docs)``
    with ``host`` the www-stripped port-free hostname, ``n_urls`` the
    count of DISTINCT canonical URLs, and ``n_dup_docs = n_docs -
    n_urls`` (the host's URL-level duplication burden). The frame
    per-host caps, spam-host drops, and crawl budgeting read — hosts are
    the unit a crawler is polite to. One groupBy on host (a distinct
    aggregate inside); rows with un-URL-ish values roll up under the
    empty host rather than vanishing."""
    from albedo_spark.functions.urls import canonicalize_url, url_host

    return (
        df.where(F.col(url_col).isNotNull())
        .select(
            url_host(F.col(url_col)).alias("host"),
            canonicalize_url(F.col(url_col)).alias("_curl"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_curl").alias("n_urls"),
            (F.count("*") - F.countDistinct("_curl")).alias("n_dup_docs"),
        )
    )


def host_cap_sample(
    df: DataFrame,
    url_col: str = "url",
    cap: int = 100,
    id_col: str = "doc_id",
    num_salts: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` documents per HOST — the per-host cap
    C4/RefinedWeb-class pipelines apply after URL dedup (a handful of
    boilerplate-heavy hosts otherwise dominate the corpus). Selection is
    a deterministic UNBIASED per-host sample: rank by ``md5(host:id)``
    (ties by id) and keep the first ``cap`` — hash order, not id order,
    so the kept set is not biased toward a host's oldest documents, and
    both engines replay it (md5 is the repo's portable hash).

    Skew is the whole problem at 100 TB (one giant host = one giant
    window partition), so ranking is TWO-PHASE top-k: phase 1 ranks
    within ``(host, salt)`` sub-groups (salt = id mod ``num_salts``) and
    keeps ``cap`` per sub-group — the true per-host top-``cap`` is a
    subset of the union by a standard dominance argument (any row in
    the host's true top-cap is in its sub-group's top-cap) — then
    phase 2 ranks the ≤ ``num_salts·cap`` survivors per host exactly.
    The giant host's first window is ``num_salts``-way parallel and the
    second sees a bounded frame. NULL urls pass through uncapped (the
    family's NULL posture)."""
    from pyspark.sql import Window

    from albedo_spark.functions.urls import url_host

    null_rows = df.where(F.col(url_col).isNull())
    w = df.where(F.col(url_col).isNotNull()).withColumn(
        "_host", url_host(F.col(url_col))
    ).withColumn(
        "_hk",
        F.md5(F.concat(F.col("_host"), F.lit(":"), F.col(id_col).cast("string"))),
    )
    w1 = Window.partitionBy(
        "_host", F.pmod(F.col(id_col).cast("long"), F.lit(num_salts))
    ).orderBy(F.col("_hk").asc(), F.col(id_col).asc())
    phase1 = w.withColumn("_r1", F.row_number().over(w1)).where(
        F.col("_r1") <= cap
    )
    w2 = Window.partitionBy("_host").orderBy(
        F.col("_hk").asc(), F.col(id_col).asc()
    )
    kept = (
        phase1.withColumn("_r2", F.row_number().over(w2))
        .where(F.col("_r2") <= cap)
        .drop("_host", "_hk", "_r1", "_r2")
    )
    return kept.unionByName(null_rows)
