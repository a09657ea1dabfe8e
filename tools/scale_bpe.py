"""Merge-learner scaling probe (round 7's pair-delta rewrite; both
tokenizer trainers run the same loop, ``bpe._learn_merges``).

Runs ``learn_bpe`` or ``learn_wordpiece`` for N merges over the sf0.1
documents corpus with per-round instrumentation and reports whether
per-round cost TRACKS THE AFFECTED-WORD COUNT (the pair-delta claim)
instead of staying flat at |vocab| (the naive trainer's shape: every
round re-folds every word).

The synthetic corpus has a degenerate word vocabulary (tens of distinct
words), so the corpus is replicated with scale_bench's decorrelating
perturbation (every replica suffixes its words) — vocab grows ∝ copies
and the affected-count curve becomes non-trivial.

    python tools/scale_bpe.py bpe [n_merges] [n_copies]        # default: 200 30
    python tools/scale_bpe.py wordpiece [n_merges] [n_copies]  # default: 120 30

Output: one JSON line per quartile of the merge sequence with the mean
per-round wall and mean affected-word count, plus a summary line:

    {"phase": "q1", "rounds": "0-49", "mean_wall_sec": ..., "mean_affected": ...}
    ...
    {"n_merges": ..., "vocab": ..., "wall_sec": ...,
     "first_quartile_mean_wall": ..., "last_quartile_mean_wall": ...,
     "wall_ratio_last_vs_first": ...}

Early merges touch the most words (the most frequent pairs live in the
most words); later merges touch ever fewer — so falling per-round wall
(ratio well below 1) is the signature of delta updates. A flat ratio ≈ 1
would mean the trainer still pays |vocab| per round.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_bench import replicate  # noqa: E402


def main() -> None:
    from albedo_spark import io
    from albedo_spark.operators.bpe import learn_bpe, word_frequencies
    from albedo_spark.operators.wordpiece import learn_wordpiece
    from albedo_spark.session import get_spark

    trainers = {"bpe": (learn_bpe, 200), "wordpiece": (learn_wordpiece, 120)}
    if len(sys.argv) < 2 or sys.argv[1] not in trainers:
        raise SystemExit(
            "usage: scale_bpe.py {bpe|wordpiece} [n_merges] [n_copies]"
        )
    learn, default_merges = trainers[sys.argv[1]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else default_merges
    n_copies = int(sys.argv[3]) if len(sys.argv) > 3 else 30

    spark = get_spark(f"scale-{sys.argv[1]}")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        io.widen(
            replicate(
                io.load_table(spark, sf_dir, "documents").select(
                    "doc_id", "text"
                ),
                n_copies,
            )
        )
        .persist()
    )
    docs.count()
    vocab = word_frequencies(docs).count()

    rounds: list[dict] = []
    t0 = time.perf_counter()
    merges = learn(docs, n_merges=n_merges, round_stats=rounds)
    wall = round(time.perf_counter() - t0, 2)

    q = max(1, len(rounds) // 4)
    quartiles = [rounds[i : i + q] for i in range(0, len(rounds), q)][:4]
    for i, chunk in enumerate(quartiles):
        print(
            json.dumps(
                {
                    "phase": f"q{i + 1}",
                    "rounds": f"{chunk[0]['round']}-{chunk[-1]['round']}",
                    "mean_wall_sec": round(
                        statistics.mean(r["wall_sec"] for r in chunk), 4
                    ),
                    "mean_affected": round(
                        statistics.mean(r["n_affected"] for r in chunk)
                    ),
                }
            )
        )
    first = statistics.mean(r["wall_sec"] for r in quartiles[0])
    last = statistics.mean(r["wall_sec"] for r in quartiles[-1])
    print(
        json.dumps(
            {
                "n_merges": len(merges),
                "vocab": vocab,
                "wall_sec": wall,
                "first_quartile_mean_wall": round(first, 4),
                "last_quartile_mean_wall": round(last, 4),
                "wall_ratio_last_vs_first": round(last / first, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
