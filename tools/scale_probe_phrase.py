"""Phrase-search scale probe: phrase_search claims ONE corpus token
scan serves every phrase (intersect-by-count: the bounded
(phrase_id, offset, word) table broadcasts onto the token stream, each
surviving token proposes the anchor ``pos - offset``, and one
map-side-combinable count per (phrase_id, doc_id, anchor) compared to
the phrase length decides the match — no per-phrase join, no session
persist), so wall should grow ~linearly in corpus size and ~flat in
phrase count.

- ``sec_p{a,b,c}``: phrase_search wall at 4 / 16 / 64 phrases over the
  SAME corpus — 16x phrases nowhere near 16x the 4-phrase wall;
- ``sec_kx``: 4 phrases over a k-times larger corpus — ~linear (the
  pruned pass);
- ``pa_rerun_identical``: rerun bit-identical (integer counts and
  positions — no float anywhere).

Usage: python tools/scale_probe_phrase.py [n_docs] [growth]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_mwu_spark.operators.retrieval import (  # noqa: E402
    phrase_search,
    phrase_search_slop,
)
from dask_mwu_spark.session import get_spark  # noqa: E402
from scale_probe import synth_docs  # noqa: E402


def _phrases(n: int) -> list[str]:
    """n deterministic 2-3 word phrases over the synth vocabulary."""
    out = []
    for i in range(n):
        a, b, c = (i * 3 + 1) % 32, (i * 7 + 2) % 32, (i * 11 + 5) % 32
        words = [f"w{a}", f"w{b}"] + ([f"w{c}"] if i % 2 else [])
        out.append(" ".join(words))
    return out


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    growth = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("scale-probe-phrase")
    spark.sparkContext.setLogLevel("ERROR")
    from dask_mwu_spark import release_caches

    # warm the codepath
    phrase_search(synth_docs(spark, 10_000), _phrases(4)).collect()
    release_caches()

    out: dict[str, object] = {"n_docs": n_docs, "growth": growth}
    tables = {}
    for label, nd, np_ in (
        ("pa", n_docs, 4),
        ("pb", n_docs, 16),
        ("pc", n_docs, 64),
        ("kx", n_docs * growth, 4),
        ("pa2", n_docs, 4),
    ):
        t0 = time.time()
        rows = phrase_search(synth_docs(spark, nd), _phrases(np_)).collect()
        out[f"sec_{label}"] = round(time.time() - t0, 2)
        out[f"rows_{label}"] = len(rows)
        tables[label] = sorted(map(tuple, rows))
        release_caches()
    out["pa_rerun_identical"] = tables["pa"] == tables["pa2"]
    # slop arm (round 12): the greedy ordered-window matcher must stay
    # ~flat in phrase count too — one corpus scan + one grouped fold
    # regardless of how many phrases ride the broadcast
    for label, np_ in (("sa", 4), ("sb", 16), ("sc", 64)):
        t0 = time.time()
        rows = phrase_search_slop(
            synth_docs(spark, n_docs), _phrases(np_), slop=1
        ).collect()
        out[f"sec_{label}"] = round(time.time() - t0, 2)
        out[f"rows_{label}"] = len(rows)
        release_caches()
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
