"""Incremental near-dup detection against a PERSISTED signature store.

The batch operators in ``dedup.py`` find duplicates *within* one frame.
A production pre-training pipeline instead dedups each new crawl batch
*against the historical corpus* — and at 100 TB the historical side must
be neither re-shingled nor re-shuffled per batch. This module closes that
loop (VERDICT r5 "What's missing #1"; no reference twin — §7.5 extension
surface):

- ``build_signature_store``: one-time (or per-backfill) pass that
  persists each document's banded MinHash keys as a BUCKETED table
  keyed on the band key (``io.write_bucketed``). The expensive work —
  normalize, shingle, ``num_hashes`` md5 min-scans — happens exactly
  once per document, ever.
- ``dedup_incremental``: candidate near-dup pairs of a new batch vs the
  store (plus within-batch pairs), where the store side is scanned
  bucket-aware with ZERO Exchange — only the (small) batch shuffles,
  into the store's own bucket layout. Pinned by
  tests/test_dedup.py::test_incremental_store_side_never_shuffles.
- ``append_signatures``: after the batch's pairs are consumed, its
  signatures join the store (bucketed append), so the next batch dedups
  against history *including* this one.

Band keys fold the band index INTO the key (``md5(band || '|' ||
h_i,…)``) so the store joins on ONE column — the bucket column — rather
than the (band, bkey) composite ``minhash_lsh_pairs`` uses internally;
the two schemes produce identical candidate pairs (a pair collides iff
some band's ``rows_per_band`` hashes all agree), which
tests/test_dedup.py::test_incremental_equals_self_join pins.

Bucket-size capping mirrors the self-join semantics on COMBINED size
(store count + batch count per key), so a key that was quiet historically
but explodes in the new batch is still suppressed. One inherent
asymmetry of incrementality: historical-internal pairs were emitted when
*their* batch arrived, under the bucket sizes of that time — a key that
later crosses ``max_bucket`` cannot retract them.

One key-store core, one sidecar owner. The exact-key stores (digest and
canonical URL) differ only in their key expression, so build, batch
resolve and admit-guarded append are one keyed core (``_build_key_store``,
``_resolve_keys``, ``_append_keys``), and the public names only fix the
key format. The Bloom sidecar has two forms, a monolithic bitmap and a
sharded one for more than ~4M keys; this module is the only code that
knows which a sidecar is. Callers use ``build_bloom_sidecar(...,
num_shards=None)`` once, then ``bloom_maybe``, ``append_bloom`` and
``merge_bloom_generations``, which read the form off the sidecar.

One banded core. ``dedup_incremental`` and ``simhash_incremental`` are
one resolver, ``_banded_pairs`` (store projection, replay exclusion,
checkpointed batch bands, combined bucket cap, cross and internal
joins); they fix only the band rows, and SimHash adds its pair measure
``hamming <= max_hamming``. ``_exclude_store_rows`` is the replay
exclusion of every incremental resolver, ``vector_incremental`` too.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from albedo_spark.io import (
    append_rows,
    drop_orphan_table_location,
    private_copy_swap,
    write_bucketed,
)
from albedo_spark.operators.dedup import minhash_sig_table


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Banded LSH key rows ``(id, bkey)`` — ``num_hashes/rows_per_band``
    rows per document, ``bkey = md5(band || '|' || minhashes joined ',')``
    (band index folded in: single join/bucket column, md5-portable so the
    DuckDB oracle replays it exactly)."""
    num_bands = num_hashes // rows_per_band
    sig = minhash_sig_table(df, text_col, id_col, num_hashes, shingle_n)
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat(
                            F.lit(f"{b}|"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"_h{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            ),
                        )
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bkey"),
    )


def build_signature_store(
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    num_buckets: int = 16,
) -> None:
    """Persist the corpus's banded signatures as a bucketed table keyed on
    ``bkey``. Size ``num_buckets`` for the cluster (hundreds at 100 TB);
    every future ``dedup_incremental`` inherits this layout shuffle-free.
    """
    bands = minhash_band_rows(
        corpus, text_col, id_col, num_hashes, rows_per_band, shingle_n
    )
    write_bucketed(bands, table, "bkey", num_buckets=num_buckets)


def append_signatures(
    batch: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> None:
    """Append the batch's signatures into the store, in the layout the
    store was built with (``io.append_rows``). Call AFTER the batch's
    ``dedup_incremental`` pairs are consumed: the store is re-listed at
    action time, so appending first would make the batch self-match
    through the store."""
    append_rows(
        minhash_band_rows(
            batch, text_col, id_col, num_hashes, rows_per_band, shingle_n
        ),
        table,
    )


def _exclude_store_rows(
    store: DataFrame, exclude_store_ids: DataFrame | None
) -> DataFrame:
    """``store`` minus the rows whose ``_sid`` is in ``exclude_store_ids``
    (a one-column id frame, assumed small): a broadcast anti-join, so
    the store still never shuffles. The replay guard of every
    incremental resolver: passing the batch's own ids hides what a
    crashed prior attempt already appended."""
    if exclude_store_ids is None:
        return store
    xid = exclude_store_ids.select(
        F.col(exclude_store_ids.columns[0]).alias("_xid")
    )
    return store.join(
        F.broadcast(xid), F.col("_sid") == F.col("_xid"), "left_anti"
    )


def _banded_pairs(
    bands: DataFrame,
    table: str,
    id_col: str,
    max_bucket: int,
    exclude_store_ids: DataFrame | None,
    measure: tuple[str, Callable[[Column, Column], Column], int, str]
    | None = None,
) -> DataFrame:
    """The banded-store resolver: pairs ``(id_a < id_b)`` touching the
    batch band rows ``bands`` (the store's own schema), batch-vs-store
    plus batch-internal, under the combined bucket-size cap. ``measure =
    (payload, fn, bound, name)`` keeps a pair only when ``fn`` of the
    two rows' ``payload`` values is ``<= bound``, emitted as ``name``."""
    carried = [measure[0]] if measure else []
    store = _exclude_store_rows(
        bands.sparkSession.table(table).select(
            F.col(id_col).alias("_sid"),
            *[F.col(c).alias(f"_s{c}") for c in carried],
            "bkey",
        ),
        exclude_store_ids,
    )
    # Three reads below (sizes, cross, internal): band the batch once.
    # Lazy localCheckpoint, NOT persist: a lazy result could never
    # unpersist its cache, so entries would pile up per batch in the
    # production loop (jobs/corpus.py --incremental-filter); checkpoint
    # blocks are reaped by the ContextCleaner once the result is dropped.
    new_bands = bands.select(
        F.col(id_col).alias("_bid"),
        *[F.col(c).alias(f"_b{c}") for c in carried],
        "bkey",
    ).localCheckpoint(eager=False)

    # Combined per-key size: the store-side count aggregates ON the
    # bucketed layout (partial+final hash agg, no Exchange — the
    # write_bucketed property), the batch side is small.
    store_sizes = store.groupBy("bkey").agg(F.count("*").alias("_ns"))
    batch_sizes = new_bands.groupBy("bkey").agg(F.count("*").alias("_nb"))
    eligible = (
        store_sizes.join(batch_sizes, "bkey", "full_outer")
        .where(
            F.coalesce("_ns", F.lit(0)) + F.coalesce("_nb", F.lit(0))
            <= max_bucket
        )
        .select("bkey")
    )

    cross = new_bands.join(eligible, "bkey").join(store, "bkey")
    internal = new_bands.join(eligible, "bkey").alias("a").join(
        new_bands.alias("b"),
        (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a._bid") < F.col("b._bid")),
    )
    keep = F.col("_bid") != F.col("_sid")
    cross_out, internal_out = [], []
    if measure:
        c, fn, bound, name = measure
        m_cross = fn(F.col(f"_b{c}"), F.col(f"_s{c}"))
        m_internal = fn(F.col(f"a._b{c}"), F.col(f"b._b{c}"))
        keep = keep & (m_cross <= bound)
        internal = internal.where(m_internal <= bound)
        cross_out = [m_cross.alias(name)]
        internal_out = [m_internal.alias(name)]
    cross = cross.where(keep).select(
        F.least("_bid", "_sid").alias("id_a"),
        F.greatest("_bid", "_sid").alias("id_b"),
        *cross_out,
    )
    internal = internal.select(
        F.col("a._bid").alias("id_a"),
        F.col("b._bid").alias("id_b"),
        *internal_out,
    )
    return cross.unionByName(internal).distinct()


def dedup_incremental(
    batch: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_bucket: int = 200,
    exclude_store_ids: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a < id_b)`` touching the new batch:
    batch-vs-store plus batch-internal, under the combined bucket-size
    cap. Historical text is never re-read; the store side never shuffles
    (bucket-aware scan); the batch — the small side — shuffles once into
    the store's bucket layout. Verify survivors with
    ``dedup.jaccard_verify`` as usual (it only shingles documents that
    appear in a pair).

    ``exclude_store_ids`` (a one-column id frame, assumed small) drops
    those ids from the STORE side before the size cap and the joins — a
    broadcast anti-join, so the store still never shuffles. The
    streaming ingest sink passes the batch's own ids: on a replay whose
    previous attempt already appended the batch's signatures, the store
    then looks exactly as it did on the first attempt, so the admit set
    (including every combined-bucket-cap decision at the margin) is
    byte-identical — the exactly-once contract near ``max_bucket``.
    """
    return _banded_pairs(
        minhash_band_rows(
            batch, text_col, id_col, num_hashes, rows_per_band, shingle_n
        ),
        table, id_col, max_bucket, exclude_store_ids,
    )


# ---------------------------------------------------------------------------
# Exact-key stores: the digest store and the canonical-URL store
# ---------------------------------------------------------------------------
#
# One ``(key, keeper_id)`` row per distinct key, bucketed on the key. The
# digest store keys on ``md5(normalize_text(text))``, the URL store on
# ``canonicalize_url(url)``; everything else (build, batch resolve,
# admit-guarded append) is the keyed core below, which takes the key
# column expression and the key's column name.


def _build_key_store(
    corpus: DataFrame, table: str, key: Column, key_name: str,
    id_col: str, num_buckets: int,
) -> None:
    """Persist the minimum id per key as ``(key_name, keeper_id)``,
    bucketed on ``key_name``."""
    d = (
        corpus.select(key.alias(key_name), F.col(id_col))
        .groupBy(key_name)
        .agg(F.min(id_col).alias("keeper_id"))
    )
    write_bucketed(d, table, key_name, num_buckets=num_buckets)


def _elect(
    rows: DataFrame, batch_min: DataFrame, key_name: str, id_col: str,
    store: DataFrame | None = None,
) -> DataFrame:
    """The keeper election: ``(id, key, is_dup, keeper_id)``. A key in
    ``store`` keeps its historical keeper; otherwise the batch minimum
    ``_bmin`` is the keeper. ``store=None`` is the branch whose keys are
    known to be absent from the store, so it joins the batch election
    only."""
    if store is not None:
        rows = rows.join(store, key_name, "left")
        keeper = F.coalesce(F.col("keeper_id"), F.col("_bmin"))
    else:
        keeper = F.col("_bmin")
    is_dup = F.col(key_name).isNotNull() & (keeper != F.col(id_col))
    return rows.join(batch_min, key_name, "left").select(
        F.col(id_col),
        key_name,
        is_dup.alias("is_dup"),
        F.when(is_dup, keeper).alias("keeper_id"),
    )


def _resolve_keys(
    batch: DataFrame, table: str, key: Column, key_name: str, id_col: str,
    bloom_table: str | None,
) -> DataFrame:
    """Resolve a batch against a key store (the contract is
    ``exact_dedup_incremental``'s). With ``bloom_table`` the batch
    splits on ``bloom_maybe`` before any join: maybe-seen rows elect
    against the store, definite-novel rows against the batch alone. The
    flag is a function of the key alone, so ``_bmin``, computed over the
    whole batch, is the keeper either branch would elect."""
    store = batch.sparkSession.table(table)
    hashed = batch.select(F.col(id_col), key.alias(key_name))
    batch_min = (
        hashed.where(F.col(key_name).isNotNull())
        .groupBy(key_name)
        .agg(F.min(id_col).alias("_bmin"))
    )
    if bloom_table is None:
        return _elect(hashed, batch_min, key_name, id_col, store)
    flagged = bloom_maybe(hashed, bloom_table, key_name)
    return _elect(
        flagged.where(F.col("_maybe")), batch_min, key_name, id_col, store
    ).unionByName(
        _elect(flagged.where(~F.col("_maybe")), batch_min, key_name, id_col)
    )


def _append_keys(
    resolution: DataFrame, table: str, key_name: str, id_col: str
) -> None:
    """Append the resolution's novel keys (``is_dup = false``, non-NULL
    key: each new key's keeper), anti-joined against the live store on
    its bucket column (no store-side Exchange)."""
    seen = resolution.sparkSession.table(table).select(key_name)
    append_rows(
        resolution.where(~F.col("is_dup") & F.col(key_name).isNotNull())
        .select(key_name, F.col(id_col).alias("keeper_id"))
        .join(seen, key_name, "left_anti"),
        table,
    )


def build_digest_store(
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> None:
    """Persist one ``(digest, keeper_id)`` row per distinct normalized
    text, bucketed on the digest — the exact-dedup twin of the MinHash
    signature store. Run exact incremental dedup FIRST (it kills the bulk
    of duplication for one narrow join), MinHash incremental second."""
    from albedo_spark.operators.dedup import normalize_text

    _build_key_store(
        corpus.where(F.col(text_col).isNotNull()),
        table,
        F.md5(normalize_text(F.col(text_col))),
        "digest",
        id_col,
        num_buckets,
    )


def exact_dedup_incremental(
    batch: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom_table: str | None = None,
) -> DataFrame:
    """Resolve a new batch against the digest store WITHOUT rescanning the
    corpus: ``(id, digest, is_dup, keeper_id)``. A digest already in the
    store marks every batch row carrying it as a dup of the HISTORICAL
    keeper; otherwise the minimum batch id per digest is the novel keeper
    and its siblings dup against it. NULL-text rows pass through
    un-deduplicated (digest NULL, is_dup false — the ``exact_dedup``
    NULL precedent). The store side joins on its bucket column with no
    Exchange; only the batch shuffles.

    ``bloom_table`` (a sidecar built by ``build_bloom_sidecar`` and kept
    in lockstep by ``append_bloom``, in either form) splits the batch
    MAP-SIDE before any join: digests the bloom rules out resolve purely
    within the batch — on a high-novelty crawl that is most of the batch
    — and only the maybe-seen remainder (true dups plus the sized
    false-positive trickle) pays the store join. False positives just
    take the exact join and resolve correctly, so the result is
    byte-identical with or without the sidecar; a sidecar NOT covering
    every store generation would instead produce false NEGATIVES (missed
    dups) — the lockstep contract is the caller's to keep.

    Feed the ``is_dup = false`` rows to ``append_digests`` (and
    ``append_bloom``) after consuming the result, and the next batch
    dedups against history including this one.
    """
    from albedo_spark.operators.dedup import normalize_text

    return _resolve_keys(
        batch, table, F.md5(normalize_text(F.col(text_col))), "digest",
        id_col, bloom_table,
    )


def append_digests(
    resolution: DataFrame,
    table: str,
    id_col: str = "doc_id",
) -> None:
    """Append the NOVEL digests of a resolved batch (``is_dup = false``,
    non-NULL digest — i.e. each new digest's keeper) into the store,
    ADMIT-GUARDED (r15): an anti-join against the live store drops
    digests already present as keys. Without the guard, a batch that
    overlaps history (re-processing under the SAME ids, where each
    row's keeper is itself so ``is_dup = false``) would re-append every
    digest — and a duplicated store key multiplies every future join
    against it, silently double-counting that digest's batch rows. The
    guard also makes a replayed append a no-op — the streaming twin's
    idempotence for batch callers."""
    _append_keys(resolution, table, "digest", id_col)


def build_url_store(
    corpus: DataFrame,
    table: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> None:
    """Persist one ``(canonical_url, keeper_id)`` row per distinct
    CANONICAL url, bucketed on the canonical string — the URL rung of
    the incremental store family (VERDICT r14 missing 2a). A continuous
    crawl's FIRST question about a fetched page is "have I seen this
    canonical URL in ANY prior batch" — answering it here costs one
    map-side canonicalization and one narrow store join, before the
    page's text is shingled, minhashed, or even extracted; every other
    rung (digest → MinHash → SimHash → vector) is strictly more
    expensive per row. NULL urls are not stored (they carry no
    fetch identity — the digest-store NULL posture applied to URLs)."""
    from albedo_spark.functions.urls import canonicalize_url

    _build_key_store(
        corpus.where(F.col(url_col).isNotNull()),
        table,
        canonicalize_url(F.col(url_col)),
        "canonical_url",
        id_col,
        num_buckets,
    )


def url_dedup_incremental(
    batch: DataFrame,
    table: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    bloom_table: str | None = None,
) -> DataFrame:
    """Resolve a new crawl batch against the URL store WITHOUT
    rescanning history: ``(doc_id, canonical_url, is_dup, keeper_id)``
    — the ``exact_dedup_incremental`` contract at the URL granularity,
    ``bloom_table`` included (a sidecar built with
    ``key_col='canonical_url'``; the rung where it pays MOST, since
    every fetched page probes this store and on a frontier-driven crawl
    most URLs are genuinely new). A batch that re-fetches one page
    twice resolves internally, store or not. NULL urls pass through
    un-deduplicated (canonical_url NULL, is_dup false — a null-unsafe
    join key would silently drop the rows).

    Plan at 100 TB: canonicalization is map-side RE2 regex; the store
    side joins on its bucket column with NO store-side Exchange — only
    the batch shuffles, into the store's layout. Feed the
    ``is_dup = false`` rows to ``append_urls`` after consuming the
    result and the next batch dedups against history including this
    one (``append_urls`` is admit-guarded, so a replay is a no-op)."""
    from albedo_spark.functions.urls import canonicalize_url

    return _resolve_keys(
        batch, table, canonicalize_url(F.col(url_col)), "canonical_url",
        id_col, bloom_table,
    )


def append_urls(
    resolution: DataFrame,
    table: str,
    id_col: str = "doc_id",
) -> None:
    """Append the NOVEL canonical URLs of a resolved batch into the
    store, ADMIT-GUARDED like ``append_digests``: (a) a recrawl batch
    that re-fetches a page under the SAME id as its historical keeper
    (is_dup=false by the keeper-is-itself rule) does not plant a
    duplicate key, and (b) replaying an already-consumed resolution
    appends nothing."""
    _append_keys(resolution, table, "canonical_url", id_col)


# ---------------------------------------------------------------------------
# SimHash store: Hamming-granular near-dup, the fourth store granularity
# ---------------------------------------------------------------------------


def simhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """(id, sim, bkey) band rows of the SimHash fingerprint: the
    ``num_bits``-bit hash splits into ``num_bands`` equal bit-slices and
    each slice becomes one md5 band key (band index folded in, the
    ``minhash_band_rows`` convention). Pigeonhole guarantee: two
    fingerprints within Hamming distance ``num_bands - 1`` share at
    least one unchanged slice, so banded candidate generation has FULL
    recall for ``max_hamming <= num_bands - 1`` — unlike MinHash, no
    probabilistic misses and no text re-read to verify (the stored
    fingerprints themselves decide via ``bit_count(xor)``)."""
    from albedo_spark.operators.dedup import simhash

    width = num_bits // num_bands
    mask = (1 << width) - 1
    # NULL-text docs carry no fingerprint: drop them here (the digest
    # store's isNotNull filter / the MinHash store's natural
    # shingle-explode drop) — otherwise concat_ws would skip the NULL
    # and every NULL doc would park four dead rows in the fixed
    # md5('0')..md5('3') buckets, inflating their size-cap counts.
    base = df.select(
        F.col(id_col), simhash(F.col(text_col), num_bits).alias("sim")
    ).where(F.col("sim").isNotNull())
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(b),
                    F.shiftright("sim", b * width)
                    .bitwiseAND(F.lit(mask))
                    .cast("string"),
                )
            )
            for b in range(num_bands)
        ]
    )
    return base.select(id_col, "sim", F.explode(keys).alias("bkey"))


def build_simhash_store(
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 16,
    num_bands: int = 4,
    num_buckets: int = 16,
) -> None:
    """Persist the corpus's SimHash band rows bucketed on ``bkey`` — the
    Hamming-granularity member of the store family (digest = exact,
    MinHash = Jaccard, ANN = cosine, SimHash = Hamming)."""
    rows = simhash_band_rows(corpus, text_col, id_col, num_bits, num_bands)
    write_bucketed(rows, table, "bkey", num_buckets=num_buckets)


def append_simhash(
    batch: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 16,
    num_bands: int = 4,
) -> None:
    """Append the batch's band rows in the store's own layout (call
    AFTER the batch's ``simhash_incremental`` pairs are consumed)."""
    append_rows(
        simhash_band_rows(batch, text_col, id_col, num_bits, num_bands),
        table,
    )


def simhash_incremental(
    batch: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 16,
    num_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 200,
    exclude_store_ids: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs ``(id_a < id_b, hamming)`` within Hamming distance
    ``max_hamming`` touching the new batch: batch-vs-store plus
    batch-internal, under the combined bucket-size cap. Same plan
    contract as ``dedup_incremental`` (store never shuffles, batch
    shuffles once into the store layout, bands lazily checkpointed), but
    the verification is EXACT and in-plan: ``bit_count(sim_a XOR
    sim_b)`` on the stored fingerprints — no candidate stage, no text
    re-read. Full recall iff ``max_hamming <= num_bands - 1``
    (pigeonhole); larger radii lose the guarantee."""
    return _banded_pairs(
        simhash_band_rows(batch, text_col, id_col, num_bits, num_bands),
        table, id_col, max_bucket, exclude_store_ids,
        measure=(
            "sim",
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
            max_hamming,
            "hamming",
        ),
    )


# ---------------------------------------------------------------------------
# Bloom sidecar: map-side novel-key elimination for the key stores
# ---------------------------------------------------------------------------
#
# At 100 TB the digest store holds billions of rows and every crawl batch
# left-joins it — yet on a typical high-novelty crawl most batch rows have
# NEVER been seen, so most of the join's probe volume resolves to "no
# match". A Bloom filter summarizing the store's digests answers
# "definitely not in the store" map-side, BEFORE any join: definite-novel
# rows resolve purely within the batch (no store scan feeds them), and
# only the maybe-seen remainder — true dups plus a sized false-positive
# trickle — pays the store join. Bloom false positives only ever route a
# row to the exact join (which then answers correctly), so the final
# resolution is byte-identical with or without the sidecar (pinned by
# tests/test_bloom.py::test_bloom_resolution_equivalence).
#
# The sidecar is ROW-GENERATIONAL: the initial build writes one bitmap
# row; each `append_digests` is mirrored by an `append_bloom` writing one
# more bitmap row covering just that batch's novel digests (blooms are
# OR-mergeable, so generations never rewrite each other). A key is
# maybe-seen iff ANY generation has all its bits set. Periodic
# `merge_bloom_generations` collapses the rows back to one (the
# `--compact-stores` discipline). CONTRACT: every digest append MUST be
# mirrored by a bloom append — a store row missing from every generation
# would be a false NEGATIVE, the one error class a Bloom filter must
# never produce. The corpus CLI loop appends both or neither.
#
# Everything is declarative: the bitmap is array<long> built by
# explode→bit_or→reassemble, the probe is a HOF expression over a
# broadcast one-row generations array — no UDF, no driver bit-twiddling.


def _bit_masks() -> Column:
    """element_at(masks, j+1) == 1L << j as a signed 64-bit long — a
    64-entry literal lookup that stands in for shiftleft-by-a-column
    (the Python ``F.shiftleft`` only takes an int literal shift). Built
    lazily: literal Columns need an active SparkContext."""
    return F.array(
        *[
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
            for j in range(64)
        ]
    )


def _bloom_positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The ``num_hashes`` bit positions of ``key``: independent hash family
    via xxhash64 with the member index mixed in as an extra column."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)).cast("long")
        for i in range(num_hashes)
    ]


def _assemble_bits(words: DataFrame, num_words: int) -> DataFrame:
    """(widx, w) word rows → ONE row with the dense ``bits`` array<long>
    (absent words zero-filled), entirely in-plan. Assembly is
    grid-left-join + sorted collect_list: the per-element map probe the
    first version used (``try_element_at`` on a ``map_from_entries``)
    is a LINEAR scan per element in Spark's map type — O(num_words²)
    in one task, which stalls outright at the >= 2^24-bit sidecars the
    vector-store admit guard sizes for (r12); the sort-based rebuild is
    O(num_words log num_words) and bit-identical."""
    spark = words.sparkSession
    grid = spark.range(num_words).select(F.col("id").cast("long").alias("widx"))
    dense = grid.join(words, "widx", "left").select(
        "widx", F.coalesce("w", F.lit(0).cast("long")).alias("w")
    )
    return _collect_words(dense, [])


def bloom_bitmap(
    df: DataFrame, key_col: str, num_bits: int, num_hashes: int
) -> DataFrame:
    """ONE-row frame ``(bits array<long>)``: the Bloom bitmap of
    ``df[key_col]`` (NULL keys skipped — they are never deduplicated, so
    they need no membership answer). ``num_bits`` must divide by 64."""
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    key = F.col(key_col)
    pos = F.explode(F.array(*_bloom_positions(key, num_bits, num_hashes))).alias("pos")
    words = (
        df.where(key.isNotNull())
        .select(pos)
        .select(
            F.floor(F.col("pos") / F.lit(64)).alias("widx"),
            F.try_element_at(
                _bit_masks(), (F.pmod(F.col("pos"), F.lit(64)) + 1).cast("int")
            ).alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("w"))
    )
    return _assemble_bits(words, num_bits // 64)


def bloom_might_contain(
    key: Column, generations: Column, num_bits: int, num_hashes: int
) -> Column:
    """Boolean Column: is ``key`` maybe-present in ANY generation bitmap?
    ``generations`` is an array<array<long>> column (one inner array per
    sidecar row, every inner array ``num_bits/64`` long). A NULL key
    hashes like an empty row (xxhash64 skips NULL inputs), so it answers
    whatever those fixed positions hold — almost always False; callers
    coalesce and route NULL keys to their pass-through policy regardless,
    so either answer is only a (harmless) routing choice."""
    pos_arr = F.array(*_bloom_positions(key, num_bits, num_hashes))
    def _bit_set(g: Column, p: Column) -> Column:
        word = F.try_element_at(g, (F.floor(p / F.lit(64)) + 1).cast("int"))
        mask = F.try_element_at(_bit_masks(), (F.pmod(p, F.lit(64)) + 1).cast("int"))
        return word.bitwiseAND(mask) != 0
    return F.exists(
        generations, lambda g: F.forall(pos_arr, lambda p: _bit_set(g, p))
    )


# --- The two sidecar forms ---------------------------------------------------
#
# The MONOLITHIC form is one ``(num_bits, num_hashes, bits)`` row per
# generation, probed by broadcasting the collected bitmaps into the batch.
# It stops working twice at scale: the single-row assembly + broadcast goes
# heap-bound past ~4M keys at honest bits/key (measured: OOM at 2^29 bits in
# tools/scale_store_admit.py), and a 1B-key sidecar would be a multi-GB
# broadcast no matter how it is assembled. The SHARDED form (r12) fixes
# both by INVERTING the probe:
#
# - the key space splits into ``num_shards`` by an independent hash
#   (xxhash64 with member index ``num_hashes`` — disjoint from the
#   position hash family 0..num_hashes-1);
# - each shard keeps its OWN (num_bits-per-shard) bitmap rows, so no
#   single assembly row exceeds num_bits/64 longs regardless of total
#   key count; a generation is ``num_shards`` rows
#   ``(shard, num_shards, num_bits, num_hashes, bits)``;
# - the probe broadcasts the BATCH's (key, shard) pairs into a scan of
#   the sidecar table and evaluates membership sidecar-side, per
#   (key, generation-row) then max per key — per-batch cost is
#   O(batch × generations + sidecar scan), independent of the store,
#   and nothing bitmap-sized is ever broadcast.
#
# Same no-false-negative lockstep contract for both. Only this module
# knows which form a sidecar is: ``build_bloom_sidecar(num_shards=...)``
# picks it once, and ``bloom_maybe``, ``append_bloom`` and
# ``merge_bloom_generations`` read it off the sidecar's schema (a
# ``shard`` column), so a caller toggling the form mid-history can never
# mix the two. Results are byte-identical across forms (pytest-pinned).


def _form(side: DataFrame) -> tuple[bool, list[str]]:
    """``(sharded, parameter columns)`` of a sidecar frame — the one
    place the form is read off the schema."""
    sharded = "shard" in side.columns
    return sharded, ["num_shards"] * sharded + ["num_bits", "num_hashes"]


def _sidecar_params(side: DataFrame, sidecar_table: str):
    """``(sharded, params)`` of a sidecar: ``params`` is its one
    ``([num_shards,] num_bits, num_hashes)`` row. Mixed parameters raise —
    generations that probe differently cannot share a sidecar."""
    sharded, cols = _form(side)
    params = side.select(*cols).distinct().collect()
    if len(params) != 1:
        raise ValueError(
            f"sidecar {sidecar_table} mixes bloom parameters: {params}"
        )
    return sharded, params[0]


def _shard_of(key: Column, num_shards: int, num_hashes: int) -> Column:
    """Shard of ``key``: one more xxhash64 member (index ``num_hashes``,
    disjoint from the 0..num_hashes-1 position family)."""
    return F.pmod(F.xxhash64(key, F.lit(num_hashes)), F.lit(num_shards)).cast(
        "int"
    )


def _sharded_rows(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """One generation of the sharded sidecar: ``(shard, num_shards,
    num_bits, num_hashes, bits)`` — ``num_shards`` rows (empty shards
    included, zero-filled), each bitmap ``num_bits`` (PER SHARD) wide.
    Declarative throughout; the per-shard assembly is the grid-join +
    sorted collect_list of ``_assemble_bits`` with shard as an extra
    key, so no aggregation row ever exceeds num_bits/64 longs."""
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    spark = df.sparkSession
    key = F.col(key_col)
    keyed = df.where(key.isNotNull()).select(
        key.alias("_k"), _shard_of(key, num_shards, num_hashes).alias("shard")
    )
    pos = F.explode(
        F.array(*_bloom_positions(F.col("_k"), num_bits, num_hashes))
    ).alias("pos")
    words = (
        keyed.select("shard", pos)
        .select(
            "shard",
            F.floor(F.col("pos") / F.lit(64)).alias("widx"),
            F.try_element_at(
                _bit_masks(), (F.pmod(F.col("pos"), F.lit(64)) + 1).cast("int")
            ).alias("bit"),
        )
        .groupBy("shard", "widx")
        .agg(F.bit_or("bit").alias("w"))
    )
    num_words = num_bits // 64
    grid = (
        spark.range(num_shards)
        .select(F.col("id").cast("int").alias("shard"))
        .crossJoin(
            spark.range(num_words).select(F.col("id").cast("long").alias("widx"))
        )
    )
    dense = grid.join(words, ["shard", "widx"], "left").select(
        "shard", "widx", F.coalesce("w", F.lit(0).cast("long")).alias("w")
    )
    return _with_params(
        _collect_words(dense, ["shard"]), num_bits, num_hashes, num_shards
    )


def _collect_words(words: DataFrame, keys: list[str]) -> DataFrame:
    """Dense ``(*keys, widx, w)`` word rows → one ``bits`` array<long>
    per key group, ordered by ``widx``."""
    return words.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("widx", "w"))),
            lambda s: s["w"],
        ).alias("bits")
    )


def _with_params(
    bits: DataFrame, num_bits: int, num_hashes: int,
    num_shards: int | None = None,
) -> DataFrame:
    """Sidecar rows: the ``bits`` frame plus its parameter literals, in
    the form's column order."""
    lead = ["shard", F.lit(num_shards).alias("num_shards")] if num_shards else []
    return bits.select(
        *lead,
        F.lit(num_bits).alias("num_bits"),
        F.lit(num_hashes).alias("num_hashes"),
        "bits",
    )


def _generation(
    df: DataFrame, key_col: str, num_bits: int, num_hashes: int,
    num_shards: int | None,
) -> DataFrame:
    """One sidecar generation over ``df[key_col]`` in either form."""
    if num_shards:
        return _sharded_rows(df, key_col, num_shards, num_bits, num_hashes)
    return _with_params(
        bloom_bitmap(df, key_col, num_bits, num_hashes), num_bits, num_hashes
    )


def build_bloom_sidecar(
    spark: SparkSession,
    store_table: str,
    sidecar_table: str,
    key_col: str = "digest",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    num_shards: int | None = None,
) -> None:
    """One-time sidecar build from the CURRENT store contents: one
    generation keyed on ``key_col`` (a digest, a canonical URL, or a
    store's id column for the ``vector_store.admit_novel`` replay
    guard). ``num_shards`` picks the sharded form, with ``num_bits``
    then PER SHARD — required past ~4M keys; grow shards, not bitmap
    width, as the store grows. Size ≈ 10 bits per expected distinct key
    for ~1% false positives at 5 hashes. The sidecar is derived data —
    losing it never loses information, rebuild from the store."""
    rows = _generation(
        spark.table(store_table), key_col, num_bits, num_hashes, num_shards
    )
    spark.sql(f"DROP TABLE IF EXISTS `{sidecar_table}`")
    drop_orphan_table_location(spark, sidecar_table)
    rows.write.mode("overwrite").format("parquet").saveAsTable(sidecar_table)


def append_bloom(
    novel: DataFrame,
    sidecar_table: str,
    key_col: str = "digest",
) -> None:
    """Mirror of a store append on the sidecar: ONE generation covering
    the batch's novel keys, in the sidecar's own form and parameters so
    every generation probes identically. Feed it the same
    ``is_dup = false`` slice ``append_digests``/``append_urls`` consumed —
    appending keys without appending their bloom breaks the
    no-false-negative contract."""
    side = novel.sparkSession.table(sidecar_table)
    sharded, cols = _form(side)
    meta = side.select(*cols).first()
    rows = _generation(
        novel, key_col, meta.num_bits, meta.num_hashes,
        meta.num_shards if sharded else None,
    )
    append_rows(rows, sidecar_table)


def bloom_maybe(
    frame: DataFrame, sidecar_table: str, key_col: str
) -> DataFrame:
    """``frame`` + a ``_maybe`` boolean: is each row's key maybe-seen in
    any sidecar generation? False is certain (no false negatives); True
    may be a false positive. A monolithic sidecar broadcasts its
    collected bitmaps into ``frame``; a sharded one is probed inverted —
    the (key, shard) pairs broadcast INTO the sidecar scan, membership
    evaluates per (key, generation-row), then ``max`` per key, and a key
    whose shard has no generation rows is definitely novel."""
    side = frame.sparkSession.table(sidecar_table)
    sharded, p = _sidecar_params(side, sidecar_table)
    if not sharded:
        gens = side.agg(F.collect_list("bits").alias("_gens"))
        return frame.crossJoin(F.broadcast(gens)).withColumn(
            "_maybe",
            F.coalesce(
                bloom_might_contain(
                    F.col(key_col), F.col("_gens"), p.num_bits, p.num_hashes
                ),
                F.lit(False),
            ),
        ).drop("_gens")
    keys = frame.select(F.col(key_col).alias("_k")).where(
        F.col("_k").isNotNull()
    ).distinct().withColumn(
        "shard", _shard_of(F.col("_k"), p.num_shards, p.num_hashes)
    )
    hit = F.coalesce(
        bloom_might_contain(
            F.col("_k"), F.array(F.col("bits")), p.num_bits, p.num_hashes
        ),
        F.lit(False),
    )
    maybe = (
        F.broadcast(keys)
        .join(side.select("shard", "bits"), "shard")
        .withColumn("_hit", hit)
        .groupBy("_k")
        .agg(F.max("_hit").alias("_maybe"))
    )
    return frame.join(
        F.broadcast(maybe),
        F.col(key_col) == F.col("_k"),
        "left",
    ).drop("_k").withColumn("_maybe", F.coalesce("_maybe", F.lit(False)))


def merge_bloom_generations(spark: SparkSession, sidecar_table: str) -> int:
    """Collapse the sidecar's generations into one (one row, or one row
    per shard) by element-wise OR — blooms are union-mergeable — so the
    probe's per-row work drops from G generations back to 1. Published
    through ``io.private_copy_swap``, with its crashed-swap adoption on
    entry; a crash that loses both copies only costs a rebuild (derived
    data). Returns the number of generations merged."""
    _, publish = private_copy_swap(spark, sidecar_table)
    side = spark.table(sidecar_table)
    sharded, p = _sidecar_params(side, sidecar_table)
    generations = side.count() // (p.num_shards if sharded else 1)
    if generations <= 1:
        return int(generations)
    keys = ["shard"] * sharded
    words = (
        side.select(*keys, F.posexplode("bits").alias("widx", "w"))
        .groupBy(*keys, "widx")
        .agg(F.bit_or("w").alias("w"))
    )
    if sharded:
        # every (shard, widx) word is present: no grid to fill
        bits = _collect_words(words, keys)
    else:
        bits = _assemble_bits(
            words.select(F.col("widx").cast("long").alias("widx"), "w"),
            p.num_bits // 64,
        )
    publish([("", _with_params(
        bits, p.num_bits, p.num_hashes, p.num_shards if sharded else None
    ))])
    return int(generations)


def near_dup_decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    corpus_id: str = "doc_id",
    probe_id: str = "probe_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 200,
) -> DataFrame:
    """Benchmark decontamination at NEAR-DUP granularity: training docs
    that are near-duplicates of any probe/benchmark document —
    ``(doc_id, probe_id, jaccard)``, exact shingle Jaccard ≥ threshold.
    ``ngram_contamination`` (q69) catches verbatim n-gram overlap; this
    catches the paraphrase-by-whitespace/reformatting class a benchmark
    leak usually takes — near-dup semantics, cross-corpus direction. A
    probe that is itself in the corpus surfaces as its own (trivial,
    jaccard 1.0) match — that is the point: the benchmark copy must
    leave the training set too.

    Same banded-minhash candidate scheme as the store family
    (band-folded md5 bkey), restricted to corpus×probe: each side bands
    once, the bucket cap applies to the COMBINED bucket (consistent with
    ``dedup_incremental``'s cap semantics), candidates equi-join on the
    band key — never a cross product — and verification is exact set
    Jaccard on the candidates only (array_intersect/union per pair; the
    candidate set is bounded by the probe set's bucket matches, so wide
    posting-list machinery isn't needed). At 100 TB the probe side is a
    benchmark suite — tiny — so the corpus pays one banding scan and one
    equi-join against a broadcast-scale opponent."""
    cb = minhash_band_rows(
        corpus, text_col, corpus_id, num_hashes, rows_per_band, shingle_n
    ).select(F.col(corpus_id).alias("_cid"), "bkey")
    # The probe side is benchmark-suite sized: materialize its bands once
    # and broadcast them everywhere below — the corpus side then needs
    # exactly TWO banding passes (bucket sizes, candidate join) instead of
    # one per downstream reference.
    pb = (
        minhash_band_rows(
            probes, text_col, probe_id, num_hashes, rows_per_band, shingle_n
        )
        .select(F.col(probe_id).alias("_pid"), "bkey")
        .localCheckpoint(eager=False)
    )
    probe_keys = pb.select("bkey").distinct()
    # Candidates only arise in probe buckets, so the combined cap only
    # needs counting THERE: restrict the corpus-count pass to probe
    # buckets (broadcast semi-join) before aggregating.
    sizes = (
        cb.join(F.broadcast(probe_keys), "bkey", "left_semi")
        .select("bkey")
        .unionByName(pb.select("bkey"))
        .groupBy("bkey")
        .agg(F.count("*").alias("_n"))
    )
    eligible = sizes.where(F.col("_n") <= max_bucket).select("bkey")
    # Candidate pairs are bounded by probe-bucket collisions — tiny next
    # to the corpus — so a lazy localCheckpoint here stops the TWO
    # downstream references (membership semi-join, verification join)
    # from re-banding the corpus once each.
    cand = (
        cb.join(F.broadcast(eligible), "bkey")
        .join(F.broadcast(pb), "bkey")
        .select("_cid", "_pid")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Shingle ONLY candidate documents, and in the cheap order: semi-join
    # down to candidates FIRST, then split once below a widen() barrier
    # (the minhash_sig_table discipline — an inline split re-evaluates per
    # shingle position), then checkpoint the small per-doc shingle-set
    # frames so the verification join reads materialized arrays instead
    # of re-running the shingle transform per pair reference.
    from albedo_spark.io import widen
    from albedo_spark.operators.dedup import normalize_text, shingles_from_words

    def _shingle_sets(side: DataFrame, sid: str, out: str) -> DataFrame:
        words = side.select(
            sid, F.split(normalize_text(F.col(text_col)), " ").alias("_w")
        )
        return widen(words).select(
            sid, shingles_from_words(F.col("_w"), shingle_n).alias(out)
        ).localCheckpoint(eager=False)

    cset = _shingle_sets(
        corpus.select(F.col(corpus_id).alias("_cid"), text_col).join(
            cand.select("_cid").distinct(), "_cid", "left_semi"
        ),
        "_cid",
        "_cs",
    )
    pset = _shingle_sets(
        probes.select(F.col(probe_id).alias("_pid"), text_col), "_pid", "_ps"
    )
    u = F.size(F.array_union(F.col("_cs"), F.col("_ps")))
    jac = F.when(
        u > 0,
        F.size(F.array_intersect(F.col("_cs"), F.col("_ps"))).cast("double") / u,
    ).otherwise(F.lit(0.0))
    return (
        cand.join(cset, "_cid")
        .join(F.broadcast(pset), "_pid")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("_cid").alias(corpus_id),
            F.col("_pid").alias(probe_id),
            "jaccard",
        )
    )
