"""R1/R2 differential tests vs the numpy oracle, including the reference's
chunk-invariance sweep re-expressed as a shuffle-partition sweep
(reference tests/test_ranking.py)."""

import numpy as np
import pytest

from dask_mwu_spark.operators.ranking import rank_data, rank_values

from tests import fixtures as fx
from tests.oracle import rankdata_avg, tie_term


def _spark_ranks(spark, data, labels):
    pdf = fx.to_long(data, labels)
    df = spark.createDataFrame(pdf)
    out = rank_data(df).toPandas()
    return out.sort_values(["feature", "obs_id"]).reset_index(drop=True)


@pytest.mark.parametrize(
    "name,data,labels",
    [
        ("positive", fx.POSITIVE, fx.LABELS_5),
        ("negative", fx.NEGATIVE, fx.LABELS_5),
        ("mixed", fx.MIXED, fx.LABELS_5),
        ("ties_dense", fx.TIES_DENSE, fx.LABELS_6_SMALL),
        ("all_zero", fx.ALL_ZERO, fx.LABELS_5),
        ("minimal", fx.MINIMAL, np.array([0])),
        ("string_labels", fx.MIXED, fx.LABELS_STR),
    ],
)
def test_per_row_ranks_match_scipy_average(spark, name, data, labels):
    out = _spark_ranks(spark, data, labels)
    for f in range(data.shape[1]):
        expected = rankdata_avg(data[:, f])
        got = (
            out[out.feature == f"gene_{f}"]
            .sort_values("obs_id")["rank"]
            .to_numpy(dtype=float)
        )
        np.testing.assert_array_equal(got, expected, err_msg=f"{name} gene_{f}")


def test_nan_poisons_whole_feature_only(spark):
    out = _spark_ranks(spark, fx.WITH_NANS, fx.LABELS_5)
    for f in range(fx.WITH_NANS.shape[1]):
        col = out[out.feature == f"gene_{f}"]["rank"]
        if np.isnan(fx.WITH_NANS[:, f]).any():
            assert col.isna().all(), f"gene_{f} should be all-NULL"
        else:
            np.testing.assert_array_equal(
                col.to_numpy(dtype=float), rankdata_avg(fx.WITH_NANS[:, f])
            )


def test_tie_counts_sum_to_tie_term(spark):
    df = spark.createDataFrame(fx.to_long(fx.TIES_DENSE, fx.LABELS_6_SMALL))
    rv = rank_values(df).toPandas()
    for f in range(fx.TIES_DENSE.shape[1]):
        sub = rv[rv.feature == f"gene_{f}"]
        tt = float((sub.c * (sub.t.astype(float) ** 2 - 1)).sum())
        assert tt == tie_term(fx.TIES_DENSE[:, f])


@pytest.mark.parametrize("partitions", [1, 2, 8])
def test_partition_invariance(spark, partitions):
    """Reference chunk sweep (tests/test_ranking.py:21-22): results must not
    depend on physical partitioning."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        out = _spark_ranks(spark, fx.MIXED, fx.LABELS_5)
        for f in range(fx.MIXED.shape[1]):
            expected = rankdata_avg(fx.MIXED[:, f])
            got = (
                out[out.feature == f"gene_{f}"]
                .sort_values("obs_id")["rank"]
                .to_numpy(dtype=float)
            )
            np.testing.assert_array_equal(got, expected)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_missing_columns_raise(spark):
    from dask_mwu_spark.errors import InvalidDimensionError

    df = spark.range(3).withColumnRenamed("id", "obs_id")
    with pytest.raises(InvalidDimensionError):
        rank_values(df)


def test_single_exchange_window_plan(spark):
    """The two window frames (peer count + running count) must share one
    Exchange+Sort (SURVEY.md section 4 'verify with explain')."""
    df = spark.createDataFrame(fx.to_long(fx.MIXED, fx.LABELS_5))
    plan = rank_values(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2 or plan.count("Window") == 1
    # one exchange for the groupBy, one for the window partitioning — the two
    # window frames must NOT add a third
    assert plan.count("Exchange") <= 2, plan


def test_full_pipeline_single_scan_plan(spark, sf_dir):
    """Regression guard for the plan-shape optimization: the whole MWU
    pipeline (stats + LFC + p/BH + top-k) must read the source exactly
    ONCE — a compute_tie_term-style groupBy+join would duplicate the
    upstream tree (Spark has no cross-branch CSE)."""
    from dask_mwu_spark.plans.pipeline import rank_features_by_group
    from dask_mwu_spark.sources.loaders import obs_measure_from_lineitem

    m = obs_measure_from_lineitem(spark, sf_dir, log1p=True)
    df = rank_features_by_group(m, top_n=5)
    qe = df._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_bucketed_rank_identical_to_windowed(spark, sf_dir):
    from dask_mwu_spark.operators.ranking import rank_values
    from dask_mwu_spark.sources.loaders import obs_measure_from_lineitem

    m = obs_measure_from_lineitem(spark, sf_dir)
    a = rank_values(m).orderBy("feature", "value", "group").collect()
    b = (
        rank_values(m, n_value_buckets=16)
        .orderBy("feature", "value", "group")
        .collect()
    )
    assert len(a) > 0 and [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bucketed_rank_nan_poisoned_feature_keeps_counts(spark):
    import pandas as pd
    from dask_mwu_spark.operators.ranking import rank_values

    rows = pd.DataFrame(
        {
            "feature": ["f"] * 6 + ["g"] * 4,
            "group": ["a", "a", "b", "b", "a", "b"] + ["a", "b", "a", "b"],
            "value": [1.0, 2.0, 2.0, 3.0, None, 4.0] + [5.0, 6.0, 6.0, 7.0],
        }
    )
    m = spark.createDataFrame(rows)
    a = rank_values(m).orderBy("feature", "value", "group").collect()
    b = (
        rank_values(m, n_value_buckets=4)
        .orderBy("feature", "value", "group")
        .collect()
    )
    # f is NaN-poisoned: ranks NULL, but every (feature,value,group) count row
    # must survive in both plans; g ranks normally
    import math

    def norm(rs):
        return [
            tuple(
                None
                if isinstance(x, float) and math.isnan(x)
                else x
                for x in r
            )
            for r in rs
        ]

    assert norm(a) == norm(b)
    f_rows = [r for r in b if r["feature"] == "f"]
    assert sum(r["c"] for r in f_rows) == 6
    assert all(r["avg_rank"] is None for r in f_rows)
    g_ranks = {
        (r["value"]): r["avg_rank"] for r in b if r["feature"] == "g"
    }
    assert g_ranks == {5.0: 1.0, 6.0: 2.5, 7.0: 4.0}


def test_bucketed_rank_parallelism_in_plan(spark, sf_dir):
    """The local window must partition by (feature, _bkt) — not feature
    alone — so one feature's values spread over n_buckets tasks."""
    from dask_mwu_spark.operators.ranking import rank_values
    from dask_mwu_spark.sources.loaders import obs_measure_from_lineitem

    m = obs_measure_from_lineitem(spark, sf_dir)
    import re

    plan = (
        rank_values(m, n_value_buckets=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every value-ordered window spec partitions by (feature, _bkt), never
    # feature alone (the windowed plan prints 'feature#N,' here)
    specs = re.findall(r"windowspecdefinition\(([^)]*?)value#\d+ ASC", plan)
    assert specs and all("_bkt" in s for s in specs)


def test_auto_routes_by_measured_cardinality(spark, sf_dir, monkeypatch):
    """n_value_buckets="auto": one approx_count_distinct aggregate picks
    the plan.  Below the threshold auto must produce the windowed plan
    (single Window over the full feature partition), above it the
    bucketed plan (width_bucket projection in the tree) — and the rows
    must equal the explicit paths either way."""
    from dask_mwu_spark.operators import ranking
    from dask_mwu_spark.operators.ranking import rank_values
    from dask_mwu_spark.sources.loaders import obs_measure_from_lineitem

    m = obs_measure_from_lineitem(spark, sf_dir)

    def plan_of(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # the bench corpus is far below the real threshold: auto -> windowed
    auto_plan = plan_of(rank_values(m, n_value_buckets="auto"))
    assert "width_bucket" not in auto_plan
    # force the threshold under the corpus cardinality: auto -> bucketed
    monkeypatch.setattr(ranking, "AUTO_DISTINCT_THRESHOLD", 1)
    auto_low = rank_values(m, n_value_buckets="auto")
    assert "width_bucket" in plan_of(auto_low)
    rows_auto = auto_low.orderBy("feature", "value", "group").collect()
    rows_explicit = (
        rank_values(m, n_value_buckets=64)
        .orderBy("feature", "value", "group")
        .collect()
    )
    assert [tuple(r) for r in rows_auto] == [tuple(r) for r in rows_explicit]


@pytest.mark.parametrize("bad", [0, -3, True, "fast"])
def test_n_value_buckets_rejects_bad_values(spark, bad):
    """Only None, "auto" or an int >= 1 are accepted: 0 and -3 must not
    collapse every feature to one bucket, a bool is not an int here, and
    an unknown string must not fail deep inside the plan."""
    from dask_mwu_spark.errors import InvalidDimensionError
    from dask_mwu_spark.plans.pipeline import feature_group_stats

    m = spark.createDataFrame(
        [("f", "a", 1.0), ("f", "b", 2.0)], "feature string, group string, value double"
    )
    for call in (rank_values, feature_group_stats):
        with pytest.raises(InvalidDimensionError, match="n_value_buckets"):
            call(m, n_value_buckets=bad)


def _edge_measures(spark):
    """Ties, a NaN-poisoned feature, +-Inf values, a constant feature,
    near-unique values and a NULL feature name in one measure; a single
    feature; an empty one."""
    rng = np.random.default_rng(7)
    groups = ["a", "b", "c"]
    rows = []
    for i in range(60):
        g = groups[i % 3]
        rows.append(("ties", g, float(rng.integers(0, 4))))
        rows.append(("const", g, 3.0))
        rows.append(("cont", g, float(rng.lognormal())))
        rows.append(("nan", g, None if i == 17 else float(i % 7)))
        inf = {5: float("inf"), 11: float("-inf"), 23: float("inf")}
        rows.append(("inf", g, inf.get(i, float(rng.normal()))))
        rows.append((None, g, float(i % 11)))
    schema = "feature string, group string, value double"
    multi = spark.createDataFrame(rows, schema)
    single = spark.createDataFrame([r for r in rows if r[0] == "cont"], schema)
    return {"multi": multi, "single": single, "empty": spark.createDataFrame([], schema)}


@pytest.mark.parametrize("k", [1, 4, 64])
def test_bucketed_pipeline_equals_windowed(spark, k):
    """feature_group_stats with the bucketed rank returns the windowed
    plan's statistics: every rank-derived column bit-for-bit, LFC at
    tests/test_lfc.py's tolerance (group means are float sums whose order
    differs between the plans)."""
    import math

    from dask_mwu_spark.operators.logfoldchange import compute_logfoldchange
    from dask_mwu_spark.plans.pipeline import feature_group_stats

    exact = ("n1", "n2", "rank_sum", "tie_term", "u_stat", "z", "p_value", "p_adjusted")

    def rows(m, **kw):
        df = compute_logfoldchange(feature_group_stats(m, **kw))
        return df.orderBy("feature", "group").collect()

    def same(a, b):
        return a == b or (isinstance(a, float) and math.isnan(a) and math.isnan(b))

    for name, m in _edge_measures(spark).items():
        want, got = rows(m), rows(m, n_value_buckets=k)
        assert len(want) == len(got) and (name == "empty" or want), name
        for w, g in zip(want, got):
            assert (w.feature, w.group) == (g.feature, g.group)
            for col in exact:
                assert same(w[col], g[col]), (name, w.feature, w.group, col, w[col], g[col])
            np.testing.assert_allclose(  # None (no rest group) compares as NaN
                np.array(g.logfoldchange, dtype=float),
                np.array(w.logfoldchange, dtype=float),
                rtol=1e-9,
                atol=1e-12,
                err_msg=f"{name} {w.feature} {w.group}",
            )
        if name == "multi":
            ranks = [
                rank_values(m, **kw).orderBy("feature", "value", "group").collect()
                for kw in ({}, {"n_value_buckets": k})
            ]
            assert len(ranks[0]) == len(ranks[1]) > 0
            for w, g in zip(*ranks):
                assert all(same(a, b) for a, b in zip(w, g)), (w, g)
            nan_rows = [g for g in got if g.feature == "nan"]
            assert nan_rows and all(g.rank_sum is None and g.n1 == 20 for g in nan_rows)


def test_bucketed_pipeline_plan_shape(spark, sf_dir):
    """The bucketed feature_group_stats moves value-level rows through
    ONE exchange, hashpartitioning(feature, _bkt); everything after it is
    tiny, and nothing is cached."""
    import re

    from dask_mwu_spark.plans.pipeline import feature_group_stats
    from dask_mwu_spark.sources.loaders import obs_measure_from_lineitem

    m = obs_measure_from_lineitem(spark, sf_dir)
    df = feature_group_stats(m, n_value_buckets=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    exchanges = re.findall(r"(?<!Broadcast)Exchange (\w+)\(([^)]*)\)", plan)
    shuffles = [args for kind, args in exchanges if kind == "hashpartitioning"]
    bucket = [a for a in shuffles if re.fullmatch(r"feature#\d+, _bkt#\d+L?, \d+", a)]
    assert len(bucket) == 1, (exchanges, plan)
    assert len(exchanges) <= 4 and plan.count("BroadcastExchange") <= 1, plan
