"""Distributed WordPiece tokenizer-training statistics and trainer (no
reference twin — LLM tokenizer-training surface, the third rung of the
tokenizer family next to BPE (operators/bpe.py, Sennrich et al. 2016) and
unigram-LM (operators/unigram.py, Kudo 2018)).

WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) is BPE with a
likelihood-ratio merge criterion: instead of merging the most FREQUENT
adjacent pair, merge the pair maximizing

    score(l, r) = count(l, r) / (count(l) * count(r))

— the pair whose merge most increases a unigram language model's corpus
likelihood. Symbols carry the continuation marker: a word's first
character is bare, every later character is prefixed ``##``, and a merge
``l + r`` strips ``r``'s marker (``h + ##e → he``, ``##e + ##l → ##el``),
so the learned vocabulary distinguishes word-initial from word-internal
pieces.

Spark shape (identical to BPE's — the criterion changes, the data
movement does not):

1. the corpus appears ONLY in the word-frequency groupBy, after which
   every frame is |distinct words|-sized (the classic trainer
   optimization);
2. one statistics step = two explodes over the vocab frame (adjacent
   pairs for the numerator, symbols for the denominators) + two
   aggregates — all JVM higher-order functions, no Python;
3. the iterative trainer IS BPE's pair-delta loop (``bpe._learn_merges``)
   with the likelihood argmax and the ``##``-aware spelling; the symbol
   counts the score needs follow from the same pair deltas, so
   per-round cost and jobs are BPE's — ∝ affected words.

The score is kept engine-portable as a scaled BIGINT:
``score_ppb = (pair_n * 10^9) div (left_n * right_n)`` — exact integer
floor division on both engines (Spark ``div``, DuckDB ``//``), never a
double. A lazy ``raise_error`` tripwire rejects symbol masses past the
BIGINT headroom (both engines would wrap IDENTICALLY past it, so the
oracle could never catch the overflow — the raise is the only honest
behavior, the unigram ``_T_CEIL`` discipline).

Apply side: WordPiece inference is NOT merge-list replay (BPE's rule) —
it is greedy longest-match-first against the final vocabulary. That
per-word loop is the package's justified-pandas-UDF case (the
``segment_vocab`` precedent): it runs over the DISTINCT word vocabulary
only, Arrow-batched, with the (small) vocabulary broadcast in the
closure; the corpus side re-attaches by equi-join.
"""

from __future__ import annotations

from fractions import Fraction

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from albedo_spark.operators.bpe import (
    _adjacent,
    _encode_words,
    _greedy_merge,
    _learn_merges,
    word_frequencies,
)

#: Scaled-integer score precision (parts-per-billion).
_SCALE = 1_000_000_000

#: BIGINT-headroom ceiling on any single symbol's weighted count: the
#: score denominator is ``left_n * right_n`` and the numerator is
#: ``pair_n * 10^9`` with ``pair_n ≤ min(left_n, right_n)``, so both
#: stay inside int64 iff every symbol count < ~3.0e9
#: (3.0e9² < 2^63 and 3.0e9 · 10^9 < 2^63 · 0.33 — numerator has slack).
_N_CEIL = 3_000_000_000


def wp_symbols(word) -> "F.Column":
    """Iteration-0 WordPiece symbols of a word column: first character
    bare, every later character ``##``-prefixed (``"hey"`` →
    ``["h", "##e", "##y"]``). Pure JVM higher-order transform."""
    word = F.col(word) if isinstance(word, str) else word
    return F.transform(
        F.split(word, ""),
        lambda c, i: F.when(i == F.lit(0), c).otherwise(
            F.concat(F.lit("##"), c)
        ),
    )


def _word_symbol_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(_s array<string>, freq)`` over the distinct-word vocabulary —
    the frame every statistics step and trainer round runs on."""
    return word_frequencies(docs, text_col).select(
        wp_symbols("word").alias("_s"), "freq"
    )


def _guard_n(n) -> "F.Column":
    """A weighted symbol count behind the lazy BIGINT-headroom tripwire:
    past ``_N_CEIL`` the score arithmetic wraps identically in Spark and
    the SQL oracle, so the hash gate would stay green on garbage — raise
    loudly instead (no extra driver action)."""
    return F.when(
        n > F.lit(_N_CEIL),
        F.raise_error(
            F.concat(
                F.lit("wordpiece: symbol count "),
                n.cast("string"),
                F.lit(
                    f" exceeds the score BIGINT-headroom ceiling"
                    f" {_N_CEIL} (pair_n*10^9 / left_n*right_n"
                    " would overflow int64 undetectably in BOTH"
                    " engines); shard the corpus"
                ),
            )
        ).cast("long"),
    ).otherwise(n)


def wp_pair_scores(
    docs: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """One WordPiece statistics step: the ``k`` best-scoring adjacent
    symbol pairs of iteration 0 — the candidate merges, ranked by the
    likelihood criterion ``score_ppb = pair_n·10^9 div (left_n·right_n)``
    with a deterministic (score desc, left, right) total order.

    Columns: ``left_sym, right_sym, pair_n, left_n, right_n, score_ppb``.

    Plan: corpus → word-frequency groupBy (the only corpus-sized pass);
    pair and symbol aggregates explode the |vocab| frame JVM-side; the
    two denominator joins hit the tiny symbol-count frame (broadcast by
    AQE); one TakeOrderedAndProject tail. At 100 TB nothing after the
    first groupBy scales with the corpus.
    """
    syms = _word_symbol_frame(docs, text_col).localCheckpoint(eager=False)
    return _scored_pairs(syms, k)


def _scored_pairs(syms: DataFrame, k: int) -> DataFrame:
    """The ``k`` best likelihood-scored adjacent pairs of a ``(_s, freq)``
    symbol frame under the (score desc, left, right) total order — the
    statistics core shared by ``wp_pair_scores`` (iteration 0) and
    ``wp_one_merge_scores`` (argmax and post-merge re-count)."""
    symc = (
        syms.select(F.explode("_s").alias("sym"), "freq")
        .groupBy("sym")
        .agg(F.sum("freq").alias("n"))
        .select("sym", _guard_n(F.col("n")).alias("n"))
    )
    pairs = (
        syms.select(F.explode(_adjacent("_s")).alias("p"), "freq")
        .groupBy(F.col("p")["l"].alias("left_sym"), F.col("p")["r"].alias("right_sym"))
        .agg(F.sum("freq").alias("pair_n"))
    )
    return (
        pairs.join(
            symc.select(F.col("sym").alias("left_sym"), F.col("n").alias("left_n")),
            "left_sym",
        )
        .join(
            symc.select(F.col("sym").alias("right_sym"), F.col("n").alias("right_n")),
            "right_sym",
        )
        .withColumn(
            "score_ppb", F.expr(f"pair_n * {_SCALE}L div (left_n * right_n)")
        )
        .select(
            "left_sym", "right_sym", "pair_n", "left_n", "right_n", "score_ppb"
        )
        .orderBy(F.col("score_ppb").desc(), "left_sym", "right_sym")
        .limit(k)
    )


def wp_one_merge_scores(
    docs: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """One full WordPiece TRAINING round, gate-shaped (the trainer
    itself is driver-looped and pytest-pinned; this exposes a single
    round end-to-end for the oracle): score iteration-0 pairs, pick the
    argmax merge under the deterministic (score desc, left, right)
    total order — a ONE-ROW driver collect, the bounded A7 idiom the
    trainer itself uses — re-segment every word with the greedy
    ``##``-aware non-overlapping fold, and return the post-merge top-k
    pair scores (same columns as ``wp_pair_scores``).

    Words containing U+0001 are excluded on BOTH engines: the SQL
    oracle replays the re-segmentation as string surgery (iteration-0
    symbols are single characters, so the merge is a plain greedy
    substring replace on the word's tail) with chr(1) as the merge
    marker, and a corpus word carrying the marker would make the replay
    ambiguous — excluding it is the documented guard, not a weakening
    (the operator itself handles any word).

    Plan: corpus → word-frequency groupBy once; both statistics passes
    and the re-segmentation run on the |distinct words| frame (the
    classic trainer optimization); the argmax is one TakeOrdered row."""
    wf = word_frequencies(docs, text_col).where(
        ~F.col("word").contains("\x01")
    )
    syms0 = wf.select(wp_symbols("word").alias("_s"), "freq").localCheckpoint(
        eager=False
    )
    best = _scored_pairs(syms0, 1).collect()
    if not best:
        return _scored_pairs(syms0, 0)
    left, right = best[0]["left_sym"], best[0]["right_sym"]
    syms1 = syms0.select(
        _greedy_merge("_s", left, right, _merge_token(left, right)).alias("_s"),
        "freq",
    ).localCheckpoint(eager=False)
    return _scored_pairs(syms1, k)


def _merge_token(left: str, right: str) -> str:
    """The WordPiece merge spelling: the right symbol drops its
    continuation marker (``h + ##e → he``; ``##e + ##l → ##el``)."""
    return left + (right[2:] if right.startswith("##") else right)


def learn_wordpiece(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    round_stats: list | None = None,
) -> list[tuple[str, str, str, int, int, int]]:
    """Learn ``n_merges`` WordPiece merges: BPE's pair-delta loop
    (``bpe._learn_merges`` — per-round plan shape, measured job counts
    and the driver-held A7 state are documented there) over the
    ``##``-marked symbols, with the likelihood argmax and the ``##``-aware
    merge spelling.

    The argmax is by exact ``Fraction(pair_n, left_n*right_n)``, ties
    broken (left, right) lexicographic — exact rational comparison, no
    float drift in the training order. The symbol counts come out of the
    loop's iteration-0 collect behind the ``_N_CEIL`` tripwire and are
    then delta-maintained from the pair deltas alone.

    Returns ``[(left, right, merged, pair_n, left_n, right_n), …]`` in
    learned order (pre-merge counts) — the vocabulary a WordPiece
    tokenizer ships is the iteration-0 alphabet plus the ``merged``
    spellings. ``round_stats`` is passed through to the loop.
    """
    return _learn_merges(
        _word_symbol_frame(docs, text_col),
        n_merges,
        key=lambda pair, n, sym_n: (
            -Fraction(n, sym_n[pair[0]] * sym_n[pair[1]]),
            pair,
        ),
        spell=_merge_token,
        round_stats=round_stats,
        guard=_guard_n,
    )


def wp_vocab(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
) -> list[str]:
    """The shipped vocabulary: iteration-0 alphabet symbols present in
    the corpus plus the merged spellings, in (alphabet-sorted, then
    learned) order."""
    alphabet = sorted(
        row["sym"]
        for row in _word_symbol_frame(docs, text_col)
        .select(F.explode("_s").alias("sym"))
        .distinct()
        .collect()
    )
    seen = set(alphabet)
    out = list(alphabet)
    for m in merges:
        tok = m[2] if len(m) > 2 else _merge_token(m[0], m[1])
        if tok not in seen:
            seen.add(tok)
            out.append(tok)
    return out


def wordpiece_encode_vocab(
    words: DataFrame,
    vocab: list[str],
    word_col: str = "word",
    unk: str = "[UNK]",
) -> DataFrame:
    """WordPiece inference over a word vocabulary: greedy
    longest-match-first against the final vocabulary (the algorithm BERT
    ships — NOT merge replay), one row per word with its piece sequence.
    A word with any unmatchable position becomes ``[unk]`` wholesale
    (the standard rule). Justified pandas UDF: per-word imperative loop,
    runs on |distinct words| rows only, vocabulary broadcast once in the
    closure; callers re-attach to the corpus by equi-join
    (``bpe.encode_corpus``'s plan shape)."""
    vset = frozenset(vocab)
    max_len = max((len(v) for v in vset), default=1)

    @F.pandas_udf("array<string>")
    def _enc(col: pd.Series) -> pd.Series:
        def enc(w: str) -> list[str]:
            out: list[str] = []
            i = 0
            while i < len(w):
                prefix = "" if i == 0 else "##"
                j_hi = min(len(w), i + max_len)
                piece = None
                for j in range(j_hi, i, -1):
                    cand = prefix + w[i:j]
                    if cand in vset:
                        piece = cand
                        i = j
                        break
                if piece is None:
                    return [unk]
                out.append(piece)
            return out

        return col.map(enc)

    return words.select(
        F.col(word_col).alias("word"), _enc(F.col(word_col)).alias("pieces")
    )


def encode_corpus_wp(
    docs: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "[UNK]",
) -> DataFrame:
    """Tokenize a corpus with a WordPiece vocabulary: ``(id, tokens
    array<string>, n_tokens)`` per document, words in original order,
    each segmented by greedy longest-match (``wordpiece_encode_vocab``)
    — plan shape: ``bpe._encode_words``."""
    return _encode_words(
        docs,
        lambda words: wordpiece_encode_vocab(words, vocab, unk=unk),
        text_col,
        id_col,
    )
