"""Distributed byte-pair-encoding statistics (no reference twin — LLM
tokenizer-training surface, same extension family as textstats/packing).

BPE training is an iterative loop: count adjacent symbol pairs across the
corpus (weighted by word frequency), merge the most frequent pair, repeat.
The expensive, data-parallel part is the PAIR COUNT — the merge decision
is a driver-side argmax over a tiny aggregate. This module implements one
exact pair-count step as pure DataFrame expressions:

1. word frequencies: one groupBy over the tokenized corpus — after which
   data volume is |vocab|, not |corpus| (the classic BPE optimization:
   count pairs per distinct word once, weight by frequency),
2. each word explodes into its adjacent character pairs (higher-order
   array functions, JVM-side, no Python),
3. one groupBy pair → weighted count.

Two shuffles total, both on keys that shrink the data (vocab, then pair
vocabulary). At 100 TB the vocab aggregate is the only pass over the raw
corpus; iterating merges re-processes just the |vocab|-sized frame.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from albedo_spark.operators.textstats import tokens


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq) over the normalized whitespace tokenization.

    The ONLY corpus-sized pass of every tokenizer trainer (BPE,
    unigram-LM, WordPiece all start here) — balance an unsplittable
    scan before the tokenize+explode (no-op on wide inputs)."""
    from albedo_spark.io import widen

    return (
        widen(docs.where(F.col(text_col).isNotNull()).select(F.col(text_col)))
        .select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """One BPE statistics step: adjacent character-pair counts weighted by
    word frequency. ``words`` carries (word, freq); symbols are the word's
    characters (the iteration-0 alphabet — after a merge, re-segmented
    words would flow through the same expression unchanged).
    """
    chars = F.split(F.col("word"), "")
    pairs = F.transform(
        F.sequence(F.lit(0), F.length("word") - 2),
        lambda i: F.concat(
            F.element_at(chars, i + 1), F.element_at(chars, i + 2)
        ),
    )
    return (
        words.where(F.length("word") >= 2)
        .select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )


def top_pairs(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """The k most frequent adjacent pairs (deterministic tiebreak on the
    pair itself) — the candidate merges of BPE iteration 0."""
    pc = pair_counts(word_frequencies(docs, text_col))
    return (
        pc.orderBy(F.col("n").desc(), F.col("pair"))
        .limit(k)
    )


def _adjacent(s) -> "F.Column":
    """Adjacent symbol pairs of an array column as (l, r) structs —
    ``slice``-based so a 1-symbol word yields an EMPTY pair array (a
    ``sequence(0, size-2)`` formulation would produce a descending
    sequence and out-of-range ``element_at`` for size 1). Pair identity
    is the struct, never a string concat — 'ab'+'c' and 'a'+'bc' must
    not collide."""
    s = F.col(s) if isinstance(s, str) else s
    return F.zip_with(
        F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0))),
        F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _greedy_merge(s, left: str, right: str, tok: str) -> "F.Column":
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair (left, right) by the merged token ``tok`` in a symbol array
    ('aaa' + (a,a) → [aa, a]) — the standard BPE fold, as a JVM-side HOF
    aggregate. ``tok`` is the merge spelling: ``left + right`` for BPE,
    the ``##``-aware one for WordPiece."""
    return F.aggregate(
        s if not isinstance(s, str) else F.col(s),
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (t == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(tok))),
        ).otherwise(F.concat(acc, F.array(t))),
    )


#: Rounds between the merge loop's full ``repartition + localCheckpoint``
#: collapses of its vocab frame (see ``_learn_merges``, step 4).
_CHECKPOINT_EVERY = 24


def _bump(stats: dict, key, delta: int) -> None:
    """Add ``delta`` to a driver-held count, dropping entries that reach
    0 (every count is a positive weighted occurrence count)."""
    nv = stats.get(key, 0) + delta
    if nv > 0:
        stats[key] = nv
    else:
        stats.pop(key, None)


def _learn_merges(
    syms: DataFrame,
    n_merges: int,
    key,
    spell,
    round_stats: list | None = None,
    guard=None,
) -> list[tuple[str, str, str, int, int, int]]:
    """The pair-delta merge loop behind ``learn_bpe`` and
    ``wordpiece.learn_wordpiece`` (the optimization Sennrich's own
    ``learn_bpe.py`` applies): after a merge, only words CONTAINING the
    merged pair re-segment, and the global statistics update by the
    delta those words contribute — per-round cost is proportional to the
    affected words, not the whole vocabulary (a naive trainer re-folds
    every word every round: 32k merges × |vocab| work, mostly no-ops).

    ``syms`` is the iteration-0 ``(_s array<string>, freq)`` frame over
    the distinct-word vocabulary. ``key(pair, pair_n, sym_n)`` is the
    argmax key (minimized; it must break ties on the pair itself) and
    ``spell(left, right)`` the merged token. ``guard``, if given, wraps
    the iteration-0 symbol-count column (WordPiece's BIGINT-headroom
    tripwire). Returns ``[(left, right, merged, pair_n, left_n,
    right_n), …]`` in learned order, counts taken before the merge.

    Spark shape — measured 3 jobs per round (sf0.001 ``documents``,
    ``local[4]``: 20 jobs for 5 merges, 50 for 15, both trainers):

    0. once: the vocab frame is local-checkpointed, then ONE explode of
       each word's symbols and adjacent pairs, ONE aggregate and ONE
       collect give the pair and symbol counts.
    1. per round, argmax over the driver-held pair dict — no Spark job.
    2. filter the vocab frame to words whose symbol array contains the
       pair adjacently (cheap JVM predicate scan) and evaluate the greedy
       merge fold for just those words; the (old symbols, new symbols,
       freq) result is repartitioned to a HANDFUL of partitions and
       LAZILY local-checkpointed. Without that repartition each round's
       checkpoint would inherit the whole chain's partition count and the
       union below would DOUBLE partitions every round (32 → 512 in 9
       rounds, measured).
    3. explode old pairs with weight −freq and new pairs with +freq,
       aggregate, and collect the deltas (rows ∝ distinct pairs in
       affected words); the collect also materializes step 2's
       checkpoint. The merged pair's own count provably reaches 0 (every
       occurrence lives in an affected word); entries ≤ 0 are pruned.
       The symbol counts follow from the pair deltas without a second
       stream: every affected word has ≥ 2 symbols, so each merged
       occurrence removes exactly one adjacent pair and the weighted
       number of merges is ``k = −Σ deltas``; ``left`` and ``right``
       each lose ``k`` (``2k`` when they are the same symbol) and the
       merged token gains ``k``.
    4. the vocab frame becomes ``unaffected ∪ re-segmented``, lazily;
       every ``_CHECKPOINT_EVERY`` rounds a full ``repartition +
       localCheckpoint`` collapses the filter/union chain, so both scan
       depth and partition count stay bounded (amortized
       O(|vocab| / _CHECKPOINT_EVERY) per round — the vocab frame is
       microscopic next to the corpus, so this shuffle is pennies).

    Driver-held state is the pair and symbol count dicts — the bounded,
    documented A7 exception: at iteration 0 their keys are the corpus's
    distinct characters and CHARACTER bigrams (≤ |alphabet|² + |alphabet|,
    thousands for real text, nowhere near corpus-sized), and later rounds
    only add the delta pairs of affected words. This is exactly the stats
    structure every reference trainer keeps in memory; the corpus itself
    never leaves the cluster — it collapsed to the |vocab|-sized frame
    once, and each round moves only the per-round deltas.

    ``round_stats``: pass a list to receive one dict per round —
    {round, pair, count, n_affected, wall_sec} — the instrumentation
    ``tools/scale_bpe.py`` uses to verify per-round cost tracks the
    affected-word count (adds one cheap count job per round; leave None
    in production).
    """
    import time as _time

    width = syms.sparkSession.sparkContext.defaultParallelism
    aff_width = max(2, width // 8)
    syms = syms.localCheckpoint()

    # Iteration-0 statistics: symbols explode as (sym, NULL) structs next
    # to the (l, r) pairs, so one aggregate and one collect carry both.
    units = F.concat(
        F.transform(
            "_s",
            lambda t: F.struct(
                t.alias("l"), F.lit(None).cast("string").alias("r")
            ),
        ),
        _adjacent("_s"),
    )
    counted = (
        syms.select(F.explode(units).alias("p"), "freq")
        .groupBy("p")
        .agg(F.sum("freq").alias("n"))
    )
    if guard is not None:
        counted = counted.select(
            "p",
            F.when(F.col("p")["r"].isNull(), guard(F.col("n")))
            .otherwise(F.col("n"))
            .alias("n"),
        )
    stats: dict[tuple[str, str], int] = {}
    sym_n: dict[str, int] = {}
    for row in counted.collect():
        l, r = row["p"]["l"], row["p"]["r"]
        if r is None:
            sym_n[l] = int(row["n"])
        else:
            stats[(l, r)] = int(row["n"])

    merges: list[tuple[str, str, str, int, int, int]] = []
    for round_i in range(n_merges):
        if not stats:
            break
        t0 = _time.perf_counter()
        (left, right), n = min(
            stats.items(), key=lambda kv: key(kv[0], kv[1], sym_n)
        )
        tok = spell(left, right)
        merges.append((left, right, tok, n, sym_n[left], sym_n[right]))

        contains = F.exists(
            _adjacent("_s"),
            lambda p: (p["l"] == F.lit(left)) & (p["r"] == F.lit(right)),
        )
        aff = (
            syms.where(contains)
            .select(
                F.col("_s").alias("_old"),
                _greedy_merge("_s", left, right, tok).alias("_s"),
                "freq",
            )
            .repartition(aff_width)
            # LAZY: the deltas collect below is the round's first
            # action and materializes the checkpoint as a side effect —
            # one action per round instead of eager-materialize + collect
            # (the connected_components discipline); the next round's
            # vocab union reads the cached blocks either way.
            .localCheckpoint(eager=False)
        )
        deltas = (
            aff.select(
                F.explode(_adjacent("_old")).alias("p"),
                (-F.col("freq")).alias("d"),
            )
            .unionByName(
                aff.select(
                    F.explode(_adjacent("_s")).alias("p"),
                    F.col("freq").alias("d"),
                )
            )
            .groupBy("p")
            .agg(F.sum("d").alias("d"))
            .collect()
        )
        k = 0
        for row in deltas:
            d = int(row["d"])
            k -= d
            _bump(stats, (row["p"]["l"], row["p"]["r"]), d)
        for sym, d in ((left, -k), (right, -k), (tok, k)):
            _bump(sym_n, sym, d)

        syms = syms.where(~contains).unionByName(aff.select("_s", "freq"))
        if (round_i + 1) % _CHECKPOINT_EVERY == 0:
            syms = syms.repartition(width).localCheckpoint()
        if round_stats is not None:
            # Freeze the wall BEFORE the instrumentation count job so the
            # probe's falling-cost signal is not diluted by a constant
            # per-round measurement overhead.
            wall = round(_time.perf_counter() - t0, 4)
            round_stats.append(
                {
                    "round": round_i,
                    "pair": (left, right),
                    "count": n,
                    "n_affected": aff.count(),
                    "wall_sec": wall,
                }
            )
    return merges


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    round_stats: list | None = None,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges over the corpus (Sennrich et al.
    2016): the full iterative trainer on top of the one-step statistics
    above. Returns the merge list ``[(left, right, weighted_count), …]``
    in learned order — the artifact a tokenizer ships.

    The pair-delta loop is ``_learn_merges`` (per-round plan shape and
    measured job counts there) with the frequency argmax — count desc,
    then (left, right) lexicographic, so ties are deterministic — and
    the plain ``left + right`` merge spelling over the word's characters.
    ``round_stats`` is passed through (see ``_learn_merges``).
    """
    syms = word_frequencies(docs, text_col).select(
        F.split("word", "").alias("_s"), "freq"
    )
    merges = _learn_merges(
        syms,
        n_merges,
        key=lambda pair, n, sym_n: (-n, pair),
        spell=lambda left, right: left + right,
        round_stats=round_stats,
    )
    return [(left, right, n) for left, right, _, n, _, _ in merges]


def segment_vocab(
    words: DataFrame,
    merges: list[tuple],
    word_col: str = "word",
) -> DataFrame:
    """Apply a learned merge list to a word vocabulary: one row per input
    word plus its BPE symbol sequence (``word, symbols array<string>``).
    The APPLY side of ``learn_bpe`` — what a tokenizer does at inference.

    Standard rank-order application (the algorithm every BPE tokenizer
    ships): repeatedly find the LOWEST-RANK adjacent pair present in the
    word and merge all its occurrences greedily left-to-right, until no
    adjacent pair is in the merge table. This replays training exactly:
    training merged pairs in that same global order, so a word segments
    identically whether it was in the training corpus or arrives later.

    This is the package's justified-pandas-UDF case (the jieba/Porter
    precedent): 32k merges cannot unroll into JVM expressions, and the
    per-word loop is inherently imperative. The cost is contained the
    same way the trainer contains it — callers run this over the
    DISTINCT WORD VOCABULARY (|vocab| rows), never the corpus;
    ``encode_corpus`` re-attaches by equi-join. Arrow-batched, rank dict
    broadcast once in the closure.
    """
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def _seg(col: pd.Series) -> pd.Series:
        def enc(w: str) -> list[str]:
            syms = list(w)
            while len(syms) > 1:
                best = None
                for a, b in zip(syms, syms[1:]):
                    r = ranks.get((a, b))
                    if r is not None and (best is None or r < best[0]):
                        best = (r, a, b)
                if best is None:
                    break
                _, left, right = best
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        return col.map(enc)

    return words.select(
        F.col(word_col).alias("word"), _seg(F.col(word_col)).alias("symbols")
    )


def _encode_words(
    docs: DataFrame, segment, text_col: str, id_col: str
) -> DataFrame:
    """Tokenize a corpus by segmenting its DISTINCT words: ``(id, tokens
    array<string>, n_tokens)`` per document, tokens in original word
    order. ``segment`` maps a ``(word)`` frame to ``(word, <pieces>
    array<string>)`` — ``segment_vocab`` for BPE,
    ``wordpiece.wordpiece_encode_vocab`` for WordPiece.

    Plan shape at 100 TB: the Python segmenter touches only the distinct
    word vocabulary (one groupBy-distinct over the exploded corpus —
    data volume |vocab| after that); the corpus side is pure JVM —
    posexplode, an equi-join on the word (broadcast by AQE when the
    segmented vocab is small, the common case), and one per-doc
    reassembly aggregate ordered by word position. Token order is exact:
    (pos, pieces) structs sort by position before flattening.
    """
    # Lazy checkpoint: the exploded token stream feeds BOTH the
    # distinct-vocab branch and the equi-join branch — without it one
    # action tokenizes and explodes the full corpus twice.
    exploded = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(tokens(F.col(text_col))).alias("_pos", "word"),
        )
        .where(F.col("word") != "")
        .localCheckpoint(eager=False)
    )
    seg = segment(exploded.select("word").distinct())
    pieces = seg.columns[1]
    return (
        exploded.join(seg, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("_pos"), F.col(pieces))
                        )
                    ),
                    lambda s: s[pieces],
                )
            ).alias("tokens")
        )
        .withColumn("n_tokens", F.size("tokens"))
    )


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize a corpus with a learned merge list: ``(id, tokens
    array<string>, n_tokens)`` per document, tokens in original word
    order with each word segmented by ``segment_vocab`` (plan shape:
    ``_encode_words``)."""
    return _encode_words(
        docs, lambda words: segment_vocab(words, merges), text_col, id_col
    )
