"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its size arguments and seed, so the
same seed always writes the same tables.  The registered queries read two
tables, ``documents`` and ``embeddings``.  TESTDATA.md lists those tables'
directories but not their shape; the shape figures below were measured on
its sf0.01 tables (500 documents, 500 vectors) and sf0.1 tables (5,000
documents, 2,000 vectors), which agree on all but the exact language
shares:

- ``documents``: a 30-word vocabulary plus the token ``dup``; 10-100 words
  per document; 5% of documents end in `` dup`` (a near-duplicate: a copy
  of another document plus that token); ``lang`` shares en 0.41, zh 0.15,
  es 0.15, fr 0.15, de 0.14 (sf0.1); 20 sources; ``n_chars`` = text length.
- ``embeddings``: unit-norm float32 vectors of 64 dimensions, labels 0-9.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_FRAC = 0.05
EMBED_DIM = 64
N_LABELS = 10


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """``documents`` table: doc_id, text, lang, source, n_chars."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lengths]
    dups = rng.choice(n_docs, size=int(n_docs * DUP_FRAC), replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d, src in zip(dups, rng.choice(originals, size=len(dups))):
        texts[d] = texts[src] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(n_vecs: int, seed: int) -> pd.DataFrame:
    """``embeddings`` table: vec_id, embedding (unit-norm float32[64]), label."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n_vecs, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, N_LABELS, size=n_vecs).astype(np.int32),
        }
    )


def mwu_matrix(
    n_obs: int, n_count: int, n_cont: int, n_groups: int, seed: int
) -> tuple[pd.DataFrame, list[str], list[str]]:
    """Dense observation x feature matrix in wide form.

    ``n_count`` features are log1p of Poisson counts (heavy ties, many
    zeros); ``n_cont`` are continuous, near-unique values.  Each feature's
    level shifts with the group so the tests have signal.  Returns the
    frame (obs_id, group, features...) and the two feature-name lists.
    """
    rng = np.random.default_rng(seed)
    group = rng.integers(0, n_groups, size=n_obs)
    shift = rng.normal(0.0, 0.3, size=(n_groups, n_count + n_cont))
    lam = rng.uniform(0.2, 3.0, size=n_count) * np.exp(shift[:, :n_count])[group]
    counts = np.log1p(rng.poisson(lam).astype(np.float64))
    cont = rng.lognormal(shift[:, n_count:][group], 1.0)
    count_names = [f"count_{i}" for i in range(n_count)]
    cont_names = [f"cont_{i}" for i in range(n_cont)]
    cols = {"obs_id": np.arange(n_obs, dtype=np.int64), "group": [f"g{g}" for g in group]}
    cols.update(zip(count_names, counts.T))
    cols.update(zip(cont_names, cont.T))
    return pd.DataFrame(cols), count_names, cont_names


def main(argv: list[str]) -> None:
    """``gen.py corpus OUT N_DOCS N_VECS SEED`` or
    ``gen.py mwu OUT N_OBS N_COUNT N_CONT N_GROUPS SEED``.

    Writes the tables into a sibling temp directory and renames it to OUT
    once complete, so a reader never sees a half-written input."""
    kind, out, *nums = argv
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "corpus":
        n_docs, n_vecs, seed = map(int, nums)
        documents(n_docs, seed).to_parquet(f"{tmp}/documents.parquet", index=False)
        embeddings(n_vecs, seed).to_parquet(f"{tmp}/embeddings.parquet", index=False)
    elif kind == "mwu":
        n_obs, n_count, n_cont, n_groups, seed = map(int, nums)
        df, _, _ = mwu_matrix(n_obs, n_count, n_cont, n_groups, seed)
        df.to_parquet(f"{tmp}/mwu_matrix.parquet", index=False)
    else:
        raise SystemExit(f"unknown input kind {kind!r}")
    os.replace(tmp, out)


if __name__ == "__main__":
    main(sys.argv[1:])
