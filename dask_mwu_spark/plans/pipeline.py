"""The flagship pipeline: one-vs-rest Wilcoxon rank-sum over a long table.

Reference equivalent: scratch/rank_gene_groups.py:261-309
(``rank_gene_groups_vec``), which needs nine materialization barriers and two
zarr round-trips (SURVEY.md section 3.1).  Here the whole computation is ONE
lazy Catalyst plan with a strictly linear dataflow:

    scan (parquet, column-pruned)
      -> groupBy(feature, value, group).count()       [shuffle 1, map-side combine]
      -> Window partitionBy(feature) orderBy(value)   [shuffle 2, value-level rows]
      -> groupBy(feature, group) sums                 [shuffle 3, value-level -> tiny]
      -> groupBy(feature) totals                      [tiny]
      -> broadcast join + scalar math (z, U, LFC)     [no shuffle]
      -> pandas_udf p-value                           [tiny, Arrow]
      -> BH window per group / top-k window per group [tiny]

With ``n_value_buckets=k`` (few features with near-unique values) the rank
runs as (feature, value-bucket) units and value-level rows still cross ONE
shuffle:

    scan -> groupBy(feature) min/max                  [shuffle, map-side combine
                                                       -> broadcast, tiny]
    scan -> broadcast join + _bkt projection          [no shuffle]
      -> repartition(feature, _bkt)                   [shuffle 1, raw rows]
      -> groupBy(feature, _bkt, value, group).count() [same partitioning]
      -> Window partitionBy(feature, _bkt) order by value  [same partitioning]
      -> groupBy(feature, _bkt, group) local rank sums [same partitioning -> tiny]
      -> bucket offsets: Window partitionBy(feature) order by _bkt
                                                      [shuffle 2, tiny]
      -> groupBy(feature, group) sums + feature totals [same partitioning]
      -> scalar math, p-value, BH / top-k as above    [tiny]

Because group sizes, rank sums, tie terms AND group means all derive from the
single value-level aggregate, the raw data is scanned exactly once (the
bucketed plan adds the min/max scan, which shuffles a few rows) — the
reference scans it twice (LFC re-read, SURVEY.md barriers 7-9) and the ranked
tensor twice more (zarr rechunk round-trip).

Scale notes (100 TB, 1000 executors): shuffles 1-3 carry value-level rows
(distinct (feature, value[, group]) triples), so heavy-tie features compress
by orders of magnitude; the worst case (all-distinct values) equals what any
exact rank must move.  Nothing driver-side ever holds more than the
(n_features x n_groups) result — and even that stays a DataFrame until the
caller sinks it.  The bucketed plan's shuffle 1 moves raw rows with no
map-side combine, so it suits near-unique values, not heavy ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dask_mwu_spark.operators.logfoldchange import compute_logfoldchange
from dask_mwu_spark.operators.mwu import compute_in_group_ranksum, mann_whitney_u
from dask_mwu_spark.operators.ranking import (
    rank_sums_bucketed,
    rank_values,
    resolve_value_buckets,
)
from dask_mwu_spark.operators.topk import create_df


def feature_group_stats(
    measure: DataFrame, *, n_value_buckets: int | str | None = None
) -> DataFrame:
    """(feature, group) statistics table: n1, n2, rank_sum, tie_term, u_stat,
    z, p_value, p_adjusted — everything except LFC.

    ``n_value_buckets``: opt into the two-phase distributed rank
    (ranking.rank_sums_bucketed) when features are few and continuous —
    the per-feature window is a single task otherwise, fine to ~1e7
    distinct values per feature (identical statistics either way).
    tools/scale_probe_rank.py at 2x4M rows, 20% of them tied, 4 cores:
    windowed 19 s, bucketed 17 s.  The bucketed shuffle moves raw rows,
    so ties packed into one bucket reach it uncombined.  Pass
    ``"auto"`` to let one cheap approx_count_distinct aggregate pick the
    plan from the data (ranking.AUTO_DISTINCT_THRESHOLD)."""
    n_buckets = resolve_value_buckets(measure, n_value_buckets)
    if n_buckets is None:
        fg = compute_in_group_ranksum(rank_values(measure))
    else:
        fg = rank_sums_bucketed(measure, n_buckets=n_buckets)
    # feature totals come as window aggregates inside mann_whitney_u — a
    # compute_tie_term + join would make Catalyst duplicate the whole
    # upstream tree (two scans, two rank shuffles; no cross-branch CSE)
    return mann_whitney_u(fg)


def rank_features_by_group(
    measure: DataFrame,
    *,
    top_n: int | None = None,
    sort_by: str = "desc",
    base: float | None = None,
    n_features: int | None = None,
    n_value_buckets: int | str | None = None,
) -> DataFrame:
    """Full reference pipeline: MWU + BH + LFC + per-group top-k.

    ``measure`` is the long table (obs_id?, group, feature, value); returns
    the per-group result table of create_df.py:117-134.  ``n_features``,
    when known by the caller, enables the reference's eager
    top_n <= n_features bound (create_df.py:44-52) without a count job.
    """
    stats = feature_group_stats(measure, n_value_buckets=n_value_buckets)
    stats = compute_logfoldchange(stats, base=base)
    return create_df(stats, top_n=top_n, sort_by=sort_by, n_features=n_features)
