"""MaxMatch segmentation scale probe: the operator claims (a) corpus
growth touches only the ONE tokenize scan (segmentation runs on the
vocabulary-bounded word table), and (b) the compiled-literal membership
probe's cost grows with the INVENTORY size (linear array_contains scan
— the documented few-thousand-piece bound before the broadcast-join
growth path).  Both measured here on the fixed-vocabulary synthetic
corpus (tools/scale_probe.synth_docs):

- ``seg_sec_1x`` vs ``seg_sec_kx``: full maxmatch_segment_words wall at
  corpus 1x and kx — should be ~flat (the scan is the only corpus-scale
  term; the segmentation output is vocab x pieces-per-word regardless);
- ``seg_sec_big_inventory``: same corpus, max_pieces 32 -> 512 — the
  fold's when-chain probes a 16x larger literal; wall should grow far
  sub-16x (the probe is per-position, words are ~6 chars);
- row-identity across corpus scales: the segmentation table must be
  IDENTICAL at 1x and kx except for the freq column scaling exactly
  k-fold (frequency-uniform growth cannot change the learned inventory
  or any greedy match).

Usage: python tools/scale_probe_maxmatch.py [n_docs] [k]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_mwu_spark.operators.text import maxmatch_segment_words
from dask_mwu_spark.session import get_spark
from scale_probe import synth_docs


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 204_800
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("scale-probe-maxmatch")
    spark.sparkContext.setLogLevel("ERROR")
    synth_docs(spark, 10_000).selectExpr("sum(length(text))").collect()

    out: dict[str, object] = {"n_docs": n_docs, "k": k}
    segs = {}
    for label, n, pieces in (
        ("1x", n_docs, 32),
        ("kx", n_docs * k, 32),
        ("big_inventory", n_docs, 512),
    ):
        t0 = time.time()
        rows = maxmatch_segment_words(
            synth_docs(spark, n), max_pieces=pieces, max_piece_len=4
        ).collect()
        out[f"seg_sec_{label}"] = round(time.time() - t0, 2)
        out[f"rows_{label}"] = len(rows)
        segs[label] = sorted((r["word"], r["pos"], r["piece"], r["freq"]) for r in rows)

    scale = segs["kx"][0][3] // segs["1x"][0][3] if segs["1x"] else 0
    out["freq_scale"] = scale
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
