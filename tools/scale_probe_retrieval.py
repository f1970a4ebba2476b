"""Retrieval scale probe: the batch-BM25 operator claims that ONE token
scan serves every query (the union query vocabulary is a broadcast
filter + fan-out; only matched tokens ever shuffle), so wall should
grow far sub-linearly in n_queries and ~linearly in corpus size.  The
RRF fuse claims to be depth-bounded (it joins only the rankers'
top-depth lists), so fusing on top of a fixed ranker pair should add
~nothing.  All measured on the fixed-vocabulary synthetic corpus
(tools/scale_probe.synth_docs):

- ``bm25_sec_q{a,b,c}``: bm25_batch_topk wall at n_queries = q0, 8x,
  64x over the SAME corpus — the 64x point should be nowhere near 64x
  the q0 wall (the scan dominates; per-query cost is the bounded
  fan-out + the partitioned rank window);
- ``bm25_sec_kx``: q0 queries over a k-times larger corpus — ~linear
  (the one scan);
- ``fuse_sec``: rrf_fuse of two pre-ranked 256-row lists — the
  depth-bounded fuse in isolation (sub-second scheduling floor);
- determinism sanity: the q0 run repeated on the same corpus must be
  bit-identical (NOT the cross-scale table — BM25's idf smoothing
  (+0.5 terms) is deliberately not scale-invariant, and a larger
  corpus legitimately surfaces different top-k docs).

Usage: python tools/scale_probe_retrieval.py [n_docs] [k]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dask_mwu_spark.operators.retrieval import rrf_fuse  # noqa: E402
from dask_mwu_spark.operators.text import bm25_batch_topk  # noqa: E402
from dask_mwu_spark.session import get_spark  # noqa: E402
from scale_probe import synth_docs  # noqa: E402


def _queries(spark, n_queries: int):
    """n_queries bags of 4 deterministic in-vocabulary words each."""
    return spark.range(n_queries).select(
        F.col("id").alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit("w"),
                        ((F.col("id") * (2 * j + 1) + j) % F.lit(32)).cast(
                            "string"
                        ),
                    )
                    for j in range(4)
                ]
            )
        ).alias("word"),
    )


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 204_800
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("scale-probe-retrieval")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the whole bm25 codepath (codegen + shuffle machinery), not
    # just the scan, so the first timed point is steady-state
    bm25_batch_topk(synth_docs(spark, 10_000), _queries(spark, 4), k=10).collect()

    out: dict[str, object] = {"n_docs": n_docs, "k": k}
    tables = {}
    for label, nd, nq in (
        ("qa", n_docs, 4),
        ("qb", n_docs, 32),
        ("qc", n_docs, 256),
        ("kx", n_docs * k, 4),
        ("qa2", n_docs, 4),
    ):
        t0 = time.time()
        rows = bm25_batch_topk(
            synth_docs(spark, nd), _queries(spark, nq), k=10
        ).collect()
        out[f"bm25_sec_{label}"] = round(time.time() - t0, 2)
        out[f"rows_{label}"] = len(rows)
        tables[label] = sorted(
            (r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in rows
        )
    out["q4_rerun_identical"] = tables["qa"] == tables["qa2"]

    a = (
        spark.range(256)
        .select(F.col("id").alias("doc_id"), (F.col("id") + 1).alias("rank"))
    )
    b = (
        spark.range(256)
        .select(
            (F.col("id") * 3 % 512).alias("doc_id"),
            (F.col("id") + 1).alias("rank"),
        )
    )
    t0 = time.time()
    n_fused = rrf_fuse({"a": a, "b": b}, k=100).count()
    out["fuse_sec"] = round(time.time() - t0, 2)
    out["fuse_rows"] = n_fused

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
