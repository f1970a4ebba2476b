"""Incremental-BM25 scale probe: bm25_index_update claims the only
tokenize work on an append is over the BATCH — with the history index
persisted (parquet, as production would), update+serve cost should
track the batch size, not the history size, while a full recompute
rescans all text.

- ``incr_sec_h{1,k}``: update a PERSISTED history index (n_docs,
  then growth x n_docs) with the SAME fixed batch and serve a query —
  ~flat in history size (the history contribution is a parquet read
  of matched postings, not a re-tokenize);
- ``full_sec_h{1,k}``: bm25_topk full recompute over history+batch —
  grows ~linearly with history (the corpus re-scan);
- ``equal_h1``: served rows from the incremental index are identical
  to the full recompute (the batch-twin contract, at probe scale).

Usage: python tools/scale_probe_bm25_incr.py [n_docs] [growth]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dask_mwu_spark.operators.retrieval import (  # noqa: E402
    BM25Index,
    bm25_build_index,
    bm25_index_update,
    bm25_topk_from_index,
)
from dask_mwu_spark.operators.text import bm25_topk  # noqa: E402
from dask_mwu_spark.session import get_spark  # noqa: E402
from scale_probe import synth_docs  # noqa: E402

TERMS = ["w1", "w7", "w13", "w28"]


def _persist_index(idx: BM25Index, root: str, spark) -> BM25Index:
    """Write the four index tables to parquet and read them back —
    the production shape: the next batch's update must not re-derive
    history postings from text lineage."""
    names = ("postings", "doclens", "df", "stats")
    for name, t in zip(names, idx):
        t.write.mode("overwrite").parquet(os.path.join(root, name))
    return BM25Index(
        *(spark.read.parquet(os.path.join(root, n)) for n in names)
    )


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    growth = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    batch_n = 5_000
    spark = get_spark("scale-probe-bm25-incr")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {
        "n_docs": n_docs, "growth": growth, "batch_n": batch_n
    }
    tmp = tempfile.mkdtemp(prefix="bm25_incr_probe_")
    try:
        # batch ids live ABOVE every history id (append-only contract)
        batch = synth_docs(spark, batch_n).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
        )
        # warm the codepath
        widx = _persist_index(
            bm25_build_index(synth_docs(spark, 5_000)),
            os.path.join(tmp, "warm"),
            spark,
        )
        bm25_topk_from_index(
            bm25_index_update(widx, batch, check_disjoint=False), TERMS, k=10
        ).collect()

        for label, nh in (("h1", n_docs), ("hk", n_docs * growth)):
            hist = synth_docs(spark, nh)
            idx = _persist_index(
                bm25_build_index(hist), os.path.join(tmp, label), spark
            )
            t0 = time.time()
            rows = bm25_topk_from_index(
                bm25_index_update(idx, batch, check_disjoint=False),
                TERMS,
                k=10,
            ).collect()
            out[f"incr_sec_{label}"] = round(time.time() - t0, 2)
            out[f"rows_{label}"] = len(rows)
            t0 = time.time()
            full = bm25_topk(
                hist.unionByName(batch), TERMS, k=10
            ).collect()
            out[f"full_sec_{label}"] = round(time.time() - t0, 2)
            if label == "h1":
                out["equal_h1"] = sorted(map(tuple, rows)) == sorted(
                    map(tuple, full)
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
