"""Mann-Whitney U operators (reference M4/M5/A1-A6:
dask_mwu/rank_data.py:262-315, dask_mwu/pvals.py:21-176).

Everything here is expression-level DataFrame algebra over the value-level
rank table from ``rank_values`` — the masked tensordot of the reference
(rank_data.py:292-296) *is* a grouped sum, and the complement identities
(r2 = n1*n2 - r1, pvals.py:114-116) keep one-vs-rest a single pass over the
data no matter how many groups exist.

All count arithmetic is cast to DOUBLE before multiplication: at the 100 TB
design point n1*n2 overflows BIGINT (1e12 observations squared), while the
double formulas stay exact until ~2^53 and match the reference's float64
math bit-for-bit below that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_mwu_spark.functions.stats import two_sided_p_from_z


def compute_in_group_ranksum(ranked_values: DataFrame) -> DataFrame:
    """Per (feature, group) sums from the value-level rank table (M4 + A2 + L1
    partials in one aggregation — single pass, reference needed three:
    rank_data.py:296, pvals.py:111, logfoldchange.py:12-18).

    Columns:
      n1        rows in the group (= group size; every obs has one row per
                feature)
      rank_sum  sum of in-group average ranks (NULL when the feature is
                NaN-poisoned: scipy propagate semantics)
      val_sum   sum of in-group raw values (NaN propagates arithmetically)
      tie_part  group's share of sum(t^3 - t): sum over rows of c*(t^2-1);
                summed over groups this telescopes to the per-feature tie
                term, letting the feature level aggregate from this table
                instead of rescanning value-level data
      has_nan   feature-level NaN flag (constant within feature)
    """
    c = F.col("c").cast("double")
    t = F.col("t").cast("double")
    return ranked_values.groupBy("feature", "group").agg(
        F.sum("c").alias("n1"),
        F.sum(c * F.col("avg_rank")).alias("rank_sum"),
        F.sum(c * F.col("value")).alias("val_sum"),
        F.sum(c * (t * t - F.lit(1.0))).alias("tie_part"),
        F.max("has_nan").alias("has_nan"),
    )


def compute_tie_term(group_stats: DataFrame) -> DataFrame:
    """Per-feature totals (M5: sum(t^3 - t), rank_data.py:301-315) aggregated
    from the (feature, group) table — tiny input, no second data pass."""
    return group_stats.groupBy("feature").agg(
        F.sum("n1").alias("n_obs"),
        F.sum("val_sum").alias("total_sum"),
        F.sum("tie_part").alias("tie_term"),
        F.max("has_nan").alias("feat_has_nan"),
    )


def u_statistic(n1: Column, n2: Column, rank_sum: Column) -> tuple[Column, Column]:
    """(U reported, U for the z-score).

    r1 = rank_sum - n1(n1+1)/2 is the in-group U; the out-group U is the
    complement n1*n2 - r1 (pvals.py:114-115).  The z-score uses max(r1, r2)
    (two-sided) but the *reported* U is r1, matching the reference's return
    of r1 (pvals.py:125) and scipy's U1.
    """
    r1 = rank_sum - (n1 * (n1 + F.lit(1.0))) / F.lit(2.0)
    u_for_z = F.greatest(r1, n1 * n2 - r1)
    return r1, u_for_z


def mwu_z(u_for_z: Column, n1: Column, n2: Column, tie_term: Column) -> Column:
    """Tie- and continuity-corrected z (A1, pvals.py:21-59).

    z = (U - n1*n2/2 - 0.5) / sigma
    sigma = sqrt(n1*n2/12 * ((n+1) - tie_term / (n*(n-1))))

    Degenerate cases mirror numpy-under-errstate-ignore (pvals.py:57):
    n <= 1 -> NULL (0/0); sigma == 0 (fully tied feature) -> +/-Infinity by
    the sign of the numerator, so the downstream sf gives p=1 for the
    all-tied column exactly as the reference's tests require
    (tests/test_p_vals.py:36-46).
    """
    n = n1 + n2
    mu = n1 * n2 / F.lit(2.0)
    sigma_sq = (
        n1
        * n2
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - tie_term / (n * (n - F.lit(1.0))))
    )
    sigma = F.sqrt(sigma_sq)
    num = u_for_z - mu - F.lit(0.5)
    return (
        F.when(n <= F.lit(1.0), F.lit(None).cast("double"))
        .when(
            sigma == F.lit(0.0),
            F.when(num > F.lit(0.0), F.lit(float("inf"))).otherwise(
                F.lit(float("-inf"))
            ),
        )
        .otherwise(num / sigma)
    )


def bh_adjust(
    df: DataFrame,
    *,
    p_col: str = "p_value",
    partition_cols: tuple[str, ...] = ("group",),
    tiebreak_cols: tuple[str, ...] = ("feature",),
    out_col: str = "p_adjusted",
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR within each partition (A5,
    pvals.py:128-141; reference delegates to statsmodels fdr_bh).

    adj_i = min(1, min_{j >= i} p_(j) * m / j) over p ascending.  The suffix
    cumulative min makes the result invariant to which index tied p-values
    receive (SURVEY.md A5), but row_number still gets a deterministic
    tiebreak for reproducible plans.  Pure window functions — per-partition
    parallelism matches the reference's per-column map_blocks chunks.

    NULL p-values stay NULL (round-7 review fix): a NaN-poisoned feature
    carries NULL through rank/z/p, and without the explicit guard
    ``least(1.0, NULL)`` silently returned 1.0 here (Spark's ``least``
    skips NULL operands — the exact trap ``two_sided_p_from_z`` already
    guards).  Non-null rows are unaffected: NULLs sort last and window
    ``min`` ignores them, so m (total row count, matching statsmodels'
    input length) and the suffix minima are unchanged.
    """
    parts = [F.col(c) for c in partition_cols]
    order = [F.col(p_col).asc_nulls_last()] + [F.col(c) for c in tiebreak_cols]
    w_rank = Window.partitionBy(*parts).orderBy(*order)
    w_suffix = w_rank.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    w_all = Window.partitionBy(*parts)
    m = F.count(F.lit(1)).over(w_all)
    i = F.row_number().over(w_rank)
    raw = F.col(p_col) * m.cast("double") / i.cast("double")
    return df.withColumn(
        out_col,
        F.when(
            F.col(p_col).isNotNull(),
            F.least(F.lit(1.0), F.min(raw).over(w_suffix)),
        ),
    )


def kruskal_wallis(group_stats: DataFrame) -> DataFrame:
    """Kruskal-Wallis H — the k-group generalization of the reference's
    Mann-Whitney core (reference is strictly two-group one-vs-rest,
    pvals.py:111-125; KW answers "does ANY group differ" in one test
    instead of k correlated pairwise tests).  Consumes the SAME
    ``compute_in_group_ranksum`` table the MWU path uses, so the ranking
    machinery (value-level average ranks, tie counts) is shared and the
    marginal cost is one (feature)-key aggregate over a k-row-per-feature
    table.

    H = [12 / (N(N+1)) * SUM_j R_j^2 / n_j - 3(N+1)] / C with the
    standard tie correction C = 1 - SUM(t^3 - t) / (N^3 - N); the
    SUM(t^3-t) telescopes from the per-group ``tie_part`` exactly as in
    ``compute_tie_term``.

    Cross-engine exactness: rank sums are sums of half-integer average
    ranks — exactly representable doubles, order-independent; the
    R_j^2/n_j terms (NOT exactly representable) fold in ascending group
    order on both engines; the remaining arithmetic is one fixed tree on
    exact integers.  H rounds to 6; the df=2 chi-square survival
    function is the closed form exp(-H/2) (3 groups — the fixture's
    l_returnflag), computed from the ROUNDED H so both engines feed exp
    identical inputs, then rounded to 6 to absorb exp's last-ulp
    variation (the PMI/entropy ln recipe).  For k != 3 the p is NULL:
    general-df chi-square needs the regularized incomplete gamma, which
    has no closed SQL form (the erfc precedent would apply if a fixture
    needed it).

    Output: feature, n_obs, n_groups, h_stat, p_value.  NaN-poisoned
    features (``has_nan``) return NULL h_stat and p_value — the explicit
    scipy-propagate gate, not incidental NULL propagation (which the
    DuckDB oracle would not reproduce: ``list_aggregate(..., 'sum')``
    skips NULL list elements).

    Scale: input is one row per (feature, group) — the fold state is
    k-bounded (groups, not observations); everything upstream is the
    MWU plan already audited in PLANS.md.
    """
    term = (
        F.col("rank_sum") * F.col("rank_sum") / F.col("n1").cast("double")
    )
    per_feat = group_stats.groupBy("feature").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("group", term.alias("term")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["term"],
        ).alias("_s"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n1").alias("n_obs"),
        F.sum("tie_part").alias("_tie"),
        F.max("has_nan").alias("_nan"),
    )
    nd = F.col("n_obs").cast("double")
    h_raw = F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("_s") - F.lit(
        3.0
    ) * (nd + F.lit(1.0))
    corr = F.lit(1.0) - F.col("_tie") / (nd * nd * nd - nd)
    # NaN-poisoned features get NULL h/p EXPLICITLY (scipy propagate
    # semantics, the has_nan contract of the MWU core) rather than by
    # NULL-propagation through the fold — ADVICE r5: a NULL term would
    # NULL the Spark fold but DuckDB's list_aggregate(...,'sum') SKIPS
    # NULL list elements and would return a finite H; the oracle mirrors
    # this gate with an isnan() check over the melt.
    h = F.when(~F.col("_nan") & (corr != 0.0), F.round(h_raw / corr, 6))
    return per_feat.select(
        "feature",
        "n_obs",
        "n_groups",
        h.alias("h_stat"),
        F.when(
            F.col("n_groups") == 3,
            F.round(F.exp(-h / F.lit(2.0)), 6),
        ).alias("p_value"),
    )


def mann_whitney_u(group_stats: DataFrame) -> DataFrame:
    """Compose A1-A5 into the (feature, group) statistics table (A6,
    pvals.py:144-176).

    The per-feature totals are WINDOW aggregates over ``group_stats`` —
    Catalyst then plans the whole MWU pipeline as ONE branch with ONE
    parquet scan (a join against a separate per-feature table would
    re-scan and re-shuffle the raw data once per join branch).

    Output: feature, group, n1, n2, rank_sum, tie_term, u_stat, z, p_value,
    p_adjusted.  NaN-poisoned features keep NULL rank-derived stats.
    """
    wf = Window.partitionBy("feature")
    joined = group_stats.select(
        "*",
        F.sum("n1").over(wf).alias("n_obs"),
        F.sum("val_sum").over(wf).alias("total_sum"),
        F.sum("tie_part").over(wf).alias("tie_term"),
    )
    n1 = F.col("n1").cast("double")
    n2 = (F.col("n_obs") - F.col("n1")).cast("double")
    r1, u_for_z = u_statistic(n1, n2, F.col("rank_sum"))
    z = mwu_z(u_for_z, n1, n2, F.col("tie_term"))
    stats = joined.select(
        "feature",
        "group",
        "n1",
        (F.col("n_obs") - F.col("n1")).alias("n2"),
        "rank_sum",
        "val_sum",
        "total_sum",
        "tie_term",
        "has_nan",
        r1.alias("u_stat"),
        z.alias("z"),
    ).withColumn("p_value", two_sided_p_from_z(F.col("z")))
    return bh_adjust(stats)
