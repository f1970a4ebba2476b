"""Scale-stress probe: run the full MWU pipeline on a synthetic long table
orders of magnitude beyond the bench corpus, without touching testdata.

Generates (obs_id, group, feature, value) rows JVM-side with spark.range —
no driver materialization anywhere — and times feature_group_stats +
rank_features_by_group end-to-end. The value domain is quantized
(tie-dense) like real count data, which exercises the value-level
compression that makes the rank shuffle sublinear in rows.

Usage: python tools/scale_probe.py [n_obs] [n_features] [n_groups]
Default 1,500,000 x 40 x 8 = 60M long rows (100x the sf0.1 bench volume).
Prints one JSON line per stage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dask_mwu_spark.plans.pipeline import feature_group_stats, rank_features_by_group
from dask_mwu_spark.session import get_spark


def synth_long(spark, n_obs: int, n_features: int, n_groups: int):
    """Deterministic tie-dense long table, generated distributively."""
    obs = spark.range(n_obs).select(
        F.col("id").alias("obs_id"),
        F.concat(F.lit("g"), (F.col("id") % n_groups)).alias("group"),
    )
    feats = spark.range(n_features).select(
        F.concat(F.lit("f"), F.col("id")).alias("feature"),
        F.col("id").alias("fid"),
    )
    # value = deterministic pseudo-random quantized to ~1000 distinct levels
    # per feature (Poisson-ish count data shape)
    long = obs.crossJoin(feats).select(
        "obs_id",
        "group",
        "feature",
        (
            F.pmod(F.xxhash64("obs_id", "fid"), F.lit(1000)).cast("double") / 100.0
        ).alias("value"),
    )
    return long


def synth_docs(spark, n_docs: int):
    """(doc_id, text) corpus shared by the text scale probes: ~12
    tokens/doc over a FIXED ~2.2k-word vocabulary (id-mixing keeps the
    word distribution zipf-ish but scale-independent, so growing n_docs
    grows the corpus without growing the vocabulary)."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    (
                        (F.col("id") * (2 * j + 1) + j * j)
                        % F.lit(2 ** (1 + (j * 7) % 11))
                    ).cast("string"),
                )
                for j in range(12)
            ],
        ).alias("text"),
    )


def main() -> None:
    n_obs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
    n_features = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    n_groups = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    long = synth_long(spark, n_obs, n_features, n_groups)
    # noop sink: forces full computation of every column — count() would let
    # Catalyst prune the window/UDF work and understate the cost
    stats = feature_group_stats(long)
    res = rank_features_by_group(long, top_n=10)
    n_stats = stats.count()  # pruned count, untimed
    n_res = res.count()
    t0 = time.time()
    stats.write.format("noop").mode("overwrite").save()
    t1 = time.time()
    res.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    print(
        json.dumps(
            {
                "long_rows": n_obs * n_features,
                "n_obs": n_obs,
                "n_features": n_features,
                "n_groups": n_groups,
                "stats_rows": n_stats,
                "stats_sec": round(t1 - t0, 2),
                "full_pipeline_rows": n_res,
                "full_pipeline_sec": round(t2 - t1, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
