"""Distributed-rank probe: windowed vs bucketed rank on the hot-feature
shape (FEW features x MANY distinct values), where Window.partitionBy
("feature") pins each feature's sort to one task.

Synthetic measure table: n_features features x n_obs observations each,
values mostly-continuous (80% unique doubles, 20% tied) so the value-level
compression does NOT save us — this is the worst case the flagship's
docstring acknowledges ("degrades gracefully to the same work the raw
window would do"), and exactly the case the bucketed rank exists for.
Each arm times ``feature_group_stats``, the MWU statistics the pipeline
computes, so the bucketed arms run the path the registered queries run.

Run: python tools/scale_probe_rank.py [n_obs_per_feature] [n_features]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dask_mwu_spark.plans.pipeline import feature_group_stats
from dask_mwu_spark.session import get_spark


def make_measure(spark, n_obs: int, n_features: int):
    base = spark.range(n_obs * n_features).select(
        (F.col("id") % n_features).cast("string").alias("feature"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias(
            "group"
        ),
        # 80% unique continuous values, 20% collapsed into tie runs
        F.when(
            F.col("id") % 5 == 0, (F.col("id") % 1000).cast("double")
        )
        .otherwise(F.xxhash64("id").cast("double") / F.lit(1e12))
        .alias("value"),
    )
    return base.repartition(spark.sparkContext.defaultParallelism)


def main() -> None:
    n_obs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_features = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("rank-probe")
    spark.sparkContext.setLogLevel("ERROR")
    m = make_measure(spark, n_obs, n_features)

    def run(label, **kw):
        for i in range(2):  # second run = steady state
            t0 = time.time()
            feature_group_stats(m, **kw).collect()
            dt = time.time() - t0
        print(f"{label}: {dt:.1f}s  ({n_features} features x {n_obs:,} obs)")

    run("windowed (one task per feature)")
    run("bucketed n=64", n_value_buckets=64)
    run("bucketed n=256", n_value_buckets=256)
    spark.stop()


if __name__ == "__main__":
    main()
