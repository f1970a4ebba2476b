"""Capture .explain("formatted") for named queries into plans/r13/.

Round-13 optimization evidence: for each query touched this round we
commit the physical plan BEFORE and AFTER the change so plan claims in
OPTIMIZATION_r13.md (exchange counts, join strategies, pushed filters)
are checkable without running Spark.

Usage: python tools/plan_r13.py <suffix> <query> [query ...]
       (suffix is "before" or "after"; sf dir from $SPARK_GRAFT_SF_DIR,
       default sf0.1 — the bench scale)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from dask_mwu_spark import release_caches
from dask_mwu_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r13",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-r13")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir} ({suffix})\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
        release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
