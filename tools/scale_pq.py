"""PQ / IVF-PQ recall probe on a CLUSTERED (low-rank) embedding fixture
(q150/q151/q153's operators): measures the claim the PQ literature makes
— trained product quantization holds high recall on structured data —
which the sf fixture's near-random embeddings cannot show (recall ~0.2
there is the EXPECTED behavior of any quantizer on isotropic noise, not
a defect; Jégou et al. 2011 evaluate on SIFT/GIST).

The fixture (rank-``latent`` data, x = A·z + noise) and the recall
helpers live in ``tests/pq_fixtures.py``, shared with the recall tests;
its docstring records why a blob mixture is the wrong fixture.

Ground truth is exact integer squared-L2 top-k on the SAME integerized
vectors every PQ path uses.

    python tools/scale_pq.py [n] [latent] [k]      # default 4000 4 10

One JSON line::

    {"n_vectors": ..., "latent": ..., "k": ...,
     "curve": [{"m": ..., "ncodes": ..., "bytes_per_vec": ...,
                "compression_vs_f32": ..., "recall_formula_flat": ...,
                "recall_ivf_resid_trained": ...}, ...]}

Reading it (measured at the defaults): the ladder is
formula-codebook flat PQ (0.16-0.44) < raw-trained flat PQ (~0.56 at
m=8 nc16) < RESIDUAL-trained IVF-PQ — 0.45 at m4 nc16, 0.59 at m8
nc16, 0.74 at m8 nc64, **0.81 at the literature's 8-bit budget
(m8 nc256, a 64-bit code = 32× smaller than float32)** and 0.84 at
m16 nc64. Two findings that survive extrapolation: (a) codebooks MUST
be trained on residuals (train_residual_codebooks) — raw-vector-trained
codebooks applied to residuals plateau ~0.1 lower; (b) recall is bought
with code bits, not probe width, once nprobe covers the neighbor cells.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.pq_fixtures import DIM, exact_topk, make_lowrank, recall  # noqa: E402


def main() -> None:
    from albedo_spark.operators.pq import (
        formula_codebooks,
        ivf_pq_topk,
        pq_adc_topk,
        train_residual_codebooks,
    )
    from albedo_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    latent = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark("scale-pq")
    spark.sparkContext.setLogLevel("ERROR")

    emb = make_lowrank(spark, n, latent).localCheckpoint()
    pred = lambda c: c % 100 == 0  # noqa: E731 — 1% of ids as queries
    truth = exact_topk(emb, pred, k)

    KC, NPROBE, STRIDE = 16, 8, 13
    curve = []
    for m, ncodes in [(4, 16), (8, 16), (8, 64), (8, 256)]:
        subdim = DIM // m
        trained = train_residual_codebooks(
            emb, kc=KC, m=m, ncodes=ncodes, subdim=subdim,
            coarse_rounds=3, rounds=5, stride=STRIDE,
        )
        ivf = recall(
            ivf_pq_topk(
                emb, pred, k=k, kc=KC, nprobe=NPROBE, rounds=3,
                codebooks=trained, m=m, subdim=subdim, stride=STRIDE,
            ).collect(),
            truth,
            k,
        )
        formula = recall(
            pq_adc_topk(
                emb, pred, k=k,
                codebooks=formula_codebooks(m=m, ncodes=ncodes, subdim=subdim),
                m=m, subdim=subdim,
            ).collect(),
            truth,
            k,
        )
        entry = {
            "m": m,
            "ncodes": ncodes,
            "bytes_per_vec": m,  # one byte per code at ncodes<=256
            "compression_vs_f32": round(DIM * 4 / m, 1),
            "recall_formula_flat": formula,
            "recall_ivf_resid_trained": ivf,
        }
        if (m, ncodes) == (8, 16):
            # exact-rerank rung (q154): same 4-bit codes, shortlist-R
            # exact integer L2 on top — measured 0.86 (R=20) / 0.99
            # (R=50) vs 0.59 raw ADC
            from albedo_spark.operators.pq import ivf_pq_rerank_topk

            for r_short in (20, 50):
                entry[f"recall_rerank_r{r_short}"] = recall(
                    ivf_pq_rerank_topk(
                        emb, pred, k=k, shortlist=r_short, kc=KC,
                        nprobe=NPROBE, rounds=3, codebooks=trained,
                        m=m, subdim=subdim, stride=STRIDE,
                    ).collect(),
                    truth,
                    k,
                )
        curve.append(entry)
        print(json.dumps(curve[-1]), file=sys.stderr)

    print(
        json.dumps(
            {"n_vectors": n, "latent": latent, "k": k, "curve": curve}
        )
    )


if __name__ == "__main__":
    main()
