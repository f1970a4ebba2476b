"""Unigram-LM segmentation scale probe: the operator claims (a) corpus
growth touches only the ONE tokenize scan (the n_iter EM rounds all run
on the vocabulary-bounded word table against an inventory-bounded
model), and (b) wall grows ~linearly in ``n_iter`` (each extra round is
one more bounded model-build + Viterbi pass + recount), never in corpus
size.  Both measured on the fixed-vocabulary synthetic corpus
(tools/scale_probe.synth_docs):

- ``seg_sec_1x`` vs ``seg_sec_kx``: full unigram_lm_segments wall at
  corpus 1x and kx — should be ~flat (the scan is the only corpus-scale
  term);
- ``seg_sec_iters``: same corpus, n_iter 2 -> 6 — wall should grow
  ~linearly in rounds, nowhere near corpus-proportional;
- model-identity across corpus scales: the segmentation table must be
  IDENTICAL at 1x and kx except for the freq column scaling exactly
  k-fold — uniform frequency growth scales every seed count and every
  EM recount by k, and the only non-homogeneous term in the model,
  the Laplace-smoothed log-prob round(ln((cnt+1)/(T+V))*1e6), moves
  by < 1 micro-nat per piece at these magnitudes, so no Viterbi argmax
  flips (asserted, not assumed).

Usage: python tools/scale_probe_unigram.py [n_docs] [k]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_mwu_spark.operators.text import unigram_lm_segments
from dask_mwu_spark.session import get_spark
from scale_probe import synth_docs


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 204_800
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("scale-probe-unigram")
    spark.sparkContext.setLogLevel("ERROR")
    synth_docs(spark, 10_000).selectExpr("sum(length(text))").collect()

    out: dict[str, object] = {"n_docs": n_docs, "k": k}
    segs = {}
    for label, n, n_iter in (
        ("1x", n_docs, 2),
        ("kx", n_docs * k, 2),
        ("iters", n_docs, 6),
    ):
        t0 = time.time()
        rows = unigram_lm_segments(
            synth_docs(spark, n),
            max_pieces=32,
            max_piece_len=4,
            n_iter=n_iter,
        ).collect()
        out[f"seg_sec_{label}"] = round(time.time() - t0, 2)
        out[f"rows_{label}"] = len(rows)
        segs[label] = sorted(
            (r["word"], r["pos"], r["piece"], r["freq"]) for r in rows
        )

    out["segmentation_identical_under_corpus_growth"] = (
        [(w, p, s) for w, p, s, _ in segs["1x"]]
        == [(w, p, s) for w, p, s, _ in segs["kx"]]
        and all(
            fk == f1 * k
            for (*_, f1), (*_, fk) in zip(segs["1x"], segs["kx"])
        )
    )
    print(json.dumps(out))
    spark.stop()
    return 0 if out["segmentation_identical_under_corpus_growth"] else 1


if __name__ == "__main__":
    sys.exit(main())
