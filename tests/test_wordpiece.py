"""WordPiece trainer/statistics/inference (operators/wordpiece.py) — the
hand-checkable HuggingFace-course corpus (hug×10 pug×5 pun×12 bun×4
hugs×5), the likelihood argmax with exact-rational tie-breaking, the
``##``-aware merge spelling, greedy longest-match inference, the
BIGINT-headroom tripwire, and the jobs per trainer round."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _corpus(spark):
    words = ["hug"] * 10 + ["pug"] * 5 + ["pun"] * 12 + ["bun"] * 4 + ["hugs"] * 5
    return spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )


def test_wp_symbols_marking(spark):
    from albedo_spark.operators.wordpiece import wp_symbols

    got = (
        spark.createDataFrame([("hey",), ("a",)], "word string")
        .select("word", wp_symbols("word").alias("s"))
        .collect()
    )
    by_word = {r.word: list(r.s) for r in got}
    assert by_word == {"hey": ["h", "##e", "##y"], "a": ["a"]}


def test_wp_pair_scores_hand_example(spark):
    """Iteration-0 statistics on the course corpus: (##g,##s) scores
    5/(20·5) = 1/20 — strictly above every other pair's 1/36 — so it
    leads; the 1/36 group follows in (left, right) lexicographic order.
    score_ppb is the exact floor of score·10^9."""
    from albedo_spark.operators.wordpiece import wp_pair_scores

    rows = wp_pair_scores(_corpus(spark), k=6).collect()
    got = [
        (r.left_sym, r.right_sym, r.pair_n, r.left_n, r.right_n, r.score_ppb)
        for r in rows
    ]
    assert got[0] == ("##g", "##s", 5, 20, 5, 50_000_000)
    # the five 1/36 pairs: floor(1e9/36) = 27_777_777, tie-broken (l, r)
    assert got[1:] == [
        ("##u", "##g", 20, 36, 20, 27_777_777),
        ("##u", "##n", 16, 36, 16, 27_777_777),
        ("b", "##u", 4, 4, 36, 27_777_777),
        ("h", "##u", 15, 15, 36, 27_777_777),
        ("p", "##u", 17, 17, 36, 27_777_777),
    ]


def test_learn_wordpiece_hand_example(spark):
    """Two trainer rounds on the course corpus. Round 1 merges
    (##g, ##s) → ##gs (the likelihood winner — BPE would have merged the
    count-20 (##u, ##g) instead: the criterion, not the machinery, is
    what distinguishes the trainers). Round 2: every surviving pair ties
    at exactly 1/36, and the exact-Fraction lexicographic tie-break picks
    (##u, ##g) → ##ug. Counts carried in the merge record are the
    pre-merge statistics, delta-maintained."""
    from albedo_spark.operators.wordpiece import learn_wordpiece

    merges = learn_wordpiece(_corpus(spark), n_merges=2)
    assert merges == [
        ("##g", "##s", "##gs", 5, 20, 5),
        ("##u", "##g", "##ug", 15, 36, 15),
    ]


def test_wp_one_merge_scores_hand_example(spark):
    """The gate-shaped single round (q170's operator) on the course
    corpus must agree with the trainer: the argmax merge is (##g, ##s)
    → ##gs, and the POST-merge statistics show (a) the merged pair
    gone, (b) (##u, ##gs) present with hugs's count 5 over
    left_n = 36 (##u survives in every word) and right_n = 5, and
    (c) the next round's winner (##u, ##g) now at 15/(36·15) — the
    count the trainer's round-2 record carries — because hugs's
    (##u, ##g) occurrences were consumed by the merge."""
    from albedo_spark.operators.wordpiece import wp_one_merge_scores

    rows = wp_one_merge_scores(_corpus(spark), k=10).collect()
    got = {
        (r.left_sym, r.right_sym): (r.pair_n, r.left_n, r.right_n, r.score_ppb)
        for r in rows
    }
    assert ("##g", "##s") not in got
    assert got[("##u", "##gs")] == (5, 36, 5, 27_777_777)
    assert got[("##u", "##g")] == (15, 36, 15, 27_777_777)
    # frequency-weighted symbol masses: ##g lost hugs's 5 (20 -> 15)
    assert got[("h", "##u")] == (15, 15, 36, 27_777_777)


def test_wp_one_merge_handles_bare_left_and_overlaps(spark):
    """Adversarial single-round corpora: (a) a bare-left winner merges
    only at position 1 (aa×9 zaa×1 -> merge (a,##a): 'aa' -> ['aa'],
    'zaa' keeps [z,##a,##a] because its pair is continuation-side and
    (##a,##a) lost the argmax); (b) greedy non-overlap inside 'aaaa'
    consumes pairs left to right."""
    from albedo_spark.operators.wordpiece import wp_one_merge_scores

    # (a) bare-left: counts -> (a,##a): pair 9, a_n 9, ##a_n 11
    #     score 9/(9*11); (z,##a): 1/(1*11); (##a,##a): 1/(11*11).
    #     winner (a,##a). Post-merge 'aa'->['aa'] has no pairs;
    #     'zaa'->[z,##a,##a] keeps both its pairs.
    c1 = spark.createDataFrame(
        [(i, "aa") for i in range(9)] + [(100, "zaa")],
        "doc_id long, text string",
    )
    got1 = {
        (r.left_sym, r.right_sym): r.pair_n
        for r in wp_one_merge_scores(c1, k=10).collect()
    }
    assert got1 == {("z", "##a"): 1, ("##a", "##a"): 1}

    # (b) continuation-left winner with in-word repetition: 'xaaaa'x100
    #     + 'xz'x4000 filler that inflates x's mass so every x-pair
    #     scores low. (##a,##a): 300/(400*400) = 1875 ppm beats
    #     (x,##z) = 1/4100 and (x,##a) = 100/(4100*400) -> (##a,##a)
    #     wins the argmax, and the greedy non-overlapping fold turns
    #     [x,##a,##a,##a,##a] into [x,##aa,##aa] — the second and third
    #     ##a do NOT chain into the already-merged token.
    c2 = spark.createDataFrame(
        [(i, "xaaaa") for i in range(100)]
        + [(1000 + i, "xz") for i in range(4000)],
        "doc_id long, text string",
    )
    got2 = {
        (r.left_sym, r.right_sym): r.pair_n
        for r in wp_one_merge_scores(c2, k=10).collect()
    }
    # greedy non-overlap: xaaaa -> [x, ##aa, ##aa]
    assert got2[("##aa", "##aa")] == 100
    assert got2[("x", "##aa")] == 100
    assert ("##a", "##a") not in got2
    assert ("##a", "##aa") not in got2 and ("##aa", "##a") not in got2


def test_learn_wordpiece_matches_naive_reference(spark):
    """The delta-maintained trainer must equal a from-scratch naive
    trainer (recount everything each round) on a messier corpus — the
    same equivalence discipline as the BPE pair-delta trainer. Run to
    exhaustion. The bare 'a' words weigh the word-initial 'a' down, so
    'aaa'/'aaaa' merge (##a, ##a) first: its pair count 10 is not the
    6 merges greedy non-overlap makes, and ##a loses 2 per merge — the
    symbol counts the trainer derives from its pair deltas show in the
    next record's right_n (16 → 4)."""
    from fractions import Fraction

    from albedo_spark.operators.wordpiece import learn_wordpiece

    words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 2 + ["aaaa"] * 4 + ["a"] * 20
    )
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )

    def naive(word_freqs: dict[str, int], n_merges: int):
        segs = {
            w: [w[0]] + ["##" + c for c in w[1:]] for w in word_freqs
        }
        out = []
        for _ in range(n_merges):
            pair_n: dict[tuple, int] = {}
            sym_n: dict[str, int] = {}
            for w, f in word_freqs.items():
                s = segs[w]
                for t in s:
                    sym_n[t] = sym_n.get(t, 0) + f
                for a, b in zip(s, s[1:]):
                    pair_n[(a, b)] = pair_n.get((a, b), 0) + f
            if not pair_n:
                break
            (l, r), n = min(
                pair_n.items(),
                key=lambda kv: (
                    -Fraction(kv[1], sym_n[kv[0][0]] * sym_n[kv[0][1]]),
                    kv[0],
                ),
            )
            tok = l + (r[2:] if r.startswith("##") else r)
            out.append((l, r, tok, n, sym_n[l], sym_n[r]))
            for w, s in segs.items():
                new, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        new.append(tok)
                        i += 2
                    else:
                        new.append(s[i])
                        i += 1
                segs[w] = new
        return out

    freqs = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3, "aaa": 2, "aaaa": 4,
        "a": 20,
    }
    want = naive(freqs, 100)
    assert len(want) < 100  # every pair merged away
    i = want.index(("##a", "##a", "##aa", 10, 16, 16))
    assert want[i + 1] == ("##aa", "##a", "##aaa", 4, 6, 4)
    assert learn_wordpiece(docs, n_merges=100) == want


def test_learners_share_jobs_per_round(spark):
    """Both trainers run one pair-delta loop: WordPiece launches no more
    jobs than BPE for the same merges, and each extra merge round costs
    at most 3 jobs (the lazy affected-word checkpoint plus one delta
    collect); WordPiece's symbol counts ride on the pair deltas."""
    from albedo_spark.operators.bpe import learn_bpe
    from albedo_spark.operators.wordpiece import learn_wordpiece
    from tests.job_count import jobs_in_group

    docs = _corpus(spark)
    jobs = {}
    for name, learn in (("bpe", learn_bpe), ("wp", learn_wordpiece)):
        for n in (2, 5):
            merges, jobs[name, n] = jobs_in_group(
                spark, f"learner-jobs-{name}-{n}", lambda: learn(docs, n)
            )
            assert len(merges) == n
    for n in (2, 5):
        assert jobs["wp", n] <= jobs["bpe", n], jobs
    for name in ("bpe", "wp"):
        assert jobs[name, 5] - jobs[name, 2] <= 3 * 3, jobs


def test_wordpiece_encode_longest_match(spark):
    """Greedy longest-match-first against the final vocabulary (BERT's
    inference rule — not merge replay): merged pieces win over their
    prefixes, unseen characters sink the whole word to [UNK]."""
    from albedo_spark.operators.wordpiece import (
        learn_wordpiece,
        wordpiece_encode_vocab,
        wp_vocab,
    )

    docs = _corpus(spark)
    merges = learn_wordpiece(docs, n_merges=2)  # ##gs, ##ug
    vocab = wp_vocab(docs, merges)
    assert vocab[-2:] == ["##gs", "##ug"]
    words = spark.createDataFrame(
        [("hug",), ("hugs",), ("bug",), ("xyz",)], "word string"
    )
    got = {
        r.word: list(r.pieces)
        for r in wordpiece_encode_vocab(words, vocab).collect()
    }
    assert got == {
        "hug": ["h", "##ug"],
        "hugs": ["h", "##ug", "##s"],
        "bug": ["b", "##ug"],
        "xyz": ["[UNK]"],
    }


def test_wp_headroom_tripwire(spark, monkeypatch):
    """Past the BIGINT-headroom ceiling both engines wrap identically, so
    the only honest behavior is a loud execution-time raise."""
    from albedo_spark.operators import wordpiece

    monkeypatch.setattr(wordpiece, "_N_CEIL", 10)
    with pytest.raises(Exception, match="headroom"):
        wordpiece.wp_pair_scores(_corpus(spark), k=5).collect()
    with pytest.raises(Exception, match="headroom"):
        wordpiece.learn_wordpiece(_corpus(spark), n_merges=1)
