"""Ranking operators (reference R1/R2: dask_mwu/rank_data.py:90-259).

The reference ranks every feature column with scipy's
``_rankdata(method='average', return_ties=True)`` inside ``map_blocks``,
holding an entire feature column per chunk (rank_data.py:208-210 "rows cannot
be chunked").  A naive Spark port would be
``Window.partitionBy("feature").orderBy("value")`` over the *raw* rows —
correct, but at 100 TB one task must sort one feature's whole column.

Instead we rank at the **value level**:

    avg_rank(feature, v) = (# rows with value < v) + (t_v + 1) / 2

where ``t_v`` is the multiplicity of ``v``.  One map-side-combinable
``groupBy(feature, value, group).count()`` compresses the data to its
distinct (feature, value, group) triples; ranks, tie terms, rank sums, group
sizes and group means are all derived from that compressed table.  The only
per-feature sort runs over distinct values, not raw rows — for low-cardinality
features this is orders of magnitude smaller, and for continuous features it
degrades gracefully to the same work the raw window would do.

Both window frames (peer count and inclusive running count) share one
partition/order spec, so Catalyst plans a single Exchange + Sort + Window —
verified via ``explain`` in tests.

NaN semantics follow scipy ``nan_policy='propagate'`` (rank_data.py:182-196):
any NaN (or NULL, which we canonicalize to NaN) in a feature makes every rank
of that feature NULL; rank-derived statistics go NULL with it.
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_mwu_spark.errors import InvalidDimensionError

_REQUIRED = {"feature", "value", "group"}


def _check_measure(measure: DataFrame) -> None:
    missing = _REQUIRED - set(measure.columns)
    if missing:
        raise InvalidDimensionError(
            f"measure table missing columns {sorted(missing)}; has {measure.columns}"
        )


def _canonical_value() -> Column:
    """``value`` as DOUBLE with NULL canonicalized to NaN."""
    return F.when(F.col("value").isNull(), F.lit(float("nan"))).otherwise(
        F.col("value").cast("double")
    )


def value_counts(measure: DataFrame) -> DataFrame:
    """Compress raw observations to distinct (feature, value, group) counts.

    The single big shuffle of the whole MWU pipeline; partial (map-side)
    aggregation means shuffle volume is bounded by the number of distinct
    triples per input partition, not the row count.  NULL values are
    canonicalized to NaN so scipy's propagate semantics apply uniformly
    (Spark groups NaNs together in aggregation keys, like np.unique would
    not — but we never rank NaNs individually, see ``rank_values``).
    """
    _check_measure(measure)
    return (
        measure.withColumn("value", _canonical_value())
        .groupBy("feature", "value", "group")
        .agg(F.count(F.lit(1)).alias("c"))
    )


AUTO_DISTINCT_THRESHOLD = 2_000_000
"""Per-feature distinct-value count above which ``n_value_buckets='auto'``
switches from the windowed plan to the bucketed two-phase rank.  Chosen
from two points measured on the earlier two-shuffle bucketed plan: at
~600k distinct (sf0.1 lineitem prices) it won ~2x end-to-end, at ~16M
distinct (tools/scale_probe_rank.py) 8x — while on low-cardinality
features the windowed plan's single small sort beats the extra bucket
shuffle.  The one-shuffle plan, same probe at 2x4M rows (~3.2M distinct
per feature, 4 cores): windowed 19 s, bucketed 17 s.  The threshold sits between the regimes, biased high so auto
never pessimizes the common categorical case."""


def _check_n_buckets(n, name: str) -> int:
    if isinstance(n, bool) or not isinstance(n, numbers.Integral) or n < 1:
        raise InvalidDimensionError(
            f"{name} must be None, 'auto' or an int >= 1, got {n!r}"
        )
    return int(n)


def resolve_value_buckets(
    measure: DataFrame, n_value_buckets: int | str | None
) -> int | None:
    """The bucket count a ``n_value_buckets`` argument asks for: None for
    the windowed plan, else an int >= 1.  ``"auto"`` runs the one
    approx_count_distinct action described in :func:`rank_values`; any
    other value that is not an int >= 1 (bools included) raises
    :class:`InvalidDimensionError`."""
    if n_value_buckets is None:
        return None
    if isinstance(n_value_buckets, str) and n_value_buckets == "auto":
        hottest = (
            measure.groupBy("feature")
            .agg(F.approx_count_distinct("value").alias("d"))
            .agg(F.max("d").alias("m"))
            .collect()[0]
            .m
        )
        return 64 if hottest and hottest >= AUTO_DISTINCT_THRESHOLD else None
    return _check_n_buckets(n_value_buckets, "n_value_buckets")


def rank_values(
    measure: DataFrame, *, n_value_buckets: int | str | None = None
) -> DataFrame:
    """Value-level average ranks + tie counts.

    Returns one row per distinct (feature, value, group):
      c        BIGINT  rows with this (feature, value, group)
      t        BIGINT  rows with this (feature, value) across groups
      avg_rank DOUBLE  scipy 'average' rank shared by all those rows
                       (NULL if the feature contains any NaN)
      has_nan  BOOLEAN feature-level NaN poison flag

    avg_rank = cum_incl - (t - 1)/2 where cum_incl is the inclusive running
    row count in value order: a tied run occupying ranks (cum_prev+1 ..
    cum_prev+t) has average cum_prev + (t+1)/2 = cum_incl - (t-1)/2.
    Matches scipy._rankdata(method='average') exactly; ranks are multiples of
    0.5 and therefore exact in binary floating point at any realistic scale.

    ``n_value_buckets``: the default plan's per-feature window puts one
    feature's distinct values in ONE task — fine up to millions of distinct
    values per feature, a hot task beyond (few continuous features x 1e9
    observations).  Setting an int >= 1 routes to
    :func:`rank_values_bucketed`, the two-phase distributed rank with
    (features x buckets)-way parallelism and identical output.

    ``n_value_buckets="auto"``: statistics-driven physical-plan choice —
    ONE cheap aggregate (``approx_count_distinct`` per feature, map-side
    combinable, ±~2% at the default rsd) measures the hottest feature's
    distinct-value cardinality and routes windowed vs bucketed at
    ``AUTO_DISTINCT_THRESHOLD``.  This costs one extra scan + a tiny
    driver action, so it is OPT-IN: library callers who know their data
    pass an explicit int (the registered flagship queries do); callers
    who don't get the Catalyst-spirit behavior of picking the physical
    strategy from data statistics instead of guessing.
    """
    n_buckets = resolve_value_buckets(measure, n_value_buckets)
    if n_buckets is not None:
        return rank_values_bucketed(measure, n_buckets=n_buckets)
    vc = value_counts(measure)
    w = Window.partitionBy("feature").orderBy("value")
    # RANGE CURRENT ROW..CURRENT ROW = all value-peers; RANGE UNBOUNDED
    # PRECEDING..CURRENT ROW = inclusive running count.  Same partition+order
    # spec -> one Exchange+Sort, one Window node.
    t = F.sum("c").over(w.rangeBetween(Window.currentRow, Window.currentRow))
    cum = F.sum("c").over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    has_nan = F.max(F.isnan("value")).over(Window.partitionBy("feature"))
    ranked = (
        vc.withColumn("t", t)
        .withColumn("cum", cum)
        .withColumn("has_nan", has_nan)
        .withColumn(
            "avg_rank",
            F.when(
                F.col("has_nan"), F.lit(None).cast("double")
            ).otherwise(F.col("cum") - (F.col("t") - F.lit(1)) / F.lit(2.0)),
        )
    )
    return ranked.select(
        "feature", "value", "group", "c", "t", "avg_rank", "has_nan"
    )


def _bucketed_local_ranks(measure: DataFrame, n_buckets: int) -> DataFrame:
    """The bucketed rank's one value-level shuffle: distinct (feature,
    _bkt, value, group) counts ``c`` with their tie count ``t`` and their
    average rank ``_loc`` WITHIN the (feature, _bkt) bucket.

    ``_bkt`` is projected on the raw rows from a tiny broadcast of
    per-feature min/max, then the rows are hash-partitioned on (feature,
    _bkt) once: the count and the value-ordered window both require a
    clustering that partitioning already satisfies, so Catalyst plans no
    second exchange over value-level rows.  Equal values share a bucket,
    so ``t`` is the feature-wide tie count.

    NaN rows park in bucket ``n_buckets + 1`` past every real value; their
    ranks are NULL anyway (propagate semantics) but their counts must
    survive for group sizes, so they stay in the table.
    """
    _check_measure(measure)
    n_buckets = _check_n_buckets(n_buckets, "n_buckets")
    raw = measure.select("feature", "group", _canonical_value().alias("value"))
    stats = raw.groupBy(F.col("feature").alias("_f")).agg(
        F.min("value").alias("_vmin"), F.max("value").alias("_vmax")
    )
    bkt = (
        F.when(F.isnan("value"), F.lit(n_buckets + 1))
        # Spark max() treats NaN as the largest double, so a NaN-poisoned
        # feature has _vmax = NaN and width_bucket would return NULL.  Ranks
        # are NULL for these features anyway; any deterministic non-null
        # bucket keeps the counts intact.
        .when(F.isnan("_vmax"), F.lit(1))
        .when(F.col("_vmin") == F.col("_vmax"), F.lit(1))
        # width_bucket is NULL for an infinite bound, so a feature with
        # +-Inf values falls into one bucket through least()
        .otherwise(
            F.least(
                F.lit(n_buckets),
                F.width_bucket("value", "_vmin", "_vmax", F.lit(n_buckets)),
            )
        )
    )
    wloc = Window.partitionBy("feature", "_bkt").orderBy("value")
    t = F.sum("c").over(wloc.rangeBetween(Window.currentRow, Window.currentRow))
    cum_loc = F.sum("c").over(
        wloc.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Every row matches its feature's stats row (NULL features too: <=>),
    # so the LEFT join only decides where ``feature`` comes from: taken from
    # the outer side, a constant feature (a single-feature measure built
    # with lit()) is not constant-folded out of the partitioning below,
    # which would drop it from every partition spec (a global window) and
    # stop the count and the window from reusing the one exchange.
    return (
        raw.join(F.broadcast(stats), raw["feature"].eqNullSafe(stats["_f"]), "left")
        .select(F.col("_f").alias("feature"), "group", "value", bkt.alias("_bkt"))
        .repartition("feature", "_bkt")
        .groupBy("feature", "_bkt", "value", "group")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("t", t)
        .withColumn("_loc", cum_loc - (F.col("t") - F.lit(1)) / F.lit(2.0))
    )


def _with_bucket_offsets(per_bucket: DataFrame) -> DataFrame:
    """Add ``_off`` (rows in the feature's lower buckets) and ``has_nan``
    to a tiny table keyed by (feature, _bkt[, ...]) with row counts ``_n``
    and NaN flags ``_nan``.  The RANGE frame ends one bucket below the
    current one, so several rows per bucket (one per group) are fine."""
    wb = Window.partitionBy("feature").orderBy("_bkt")
    return per_bucket.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(wb.rangeBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("has_nan", F.max("_nan").over(Window.partitionBy("feature")))


def rank_values_bucketed(measure: DataFrame, *, n_buckets: int = 64) -> DataFrame:
    """Two-phase distributed rank: identical output to :func:`rank_values`
    (pytest-asserted row-for-row), but the per-feature sort runs as
    (feature x value-bucket) units instead of one task per feature.

    This is the classic distributed-rank decomposition:

    1. bucket each value by its position in the feature's [min, max]
       range (``width_bucket`` — a pure projection; equal values always
       land in the same bucket, so tie counts stay local);
    2. local cumulative counts within each (feature, bucket) window —
       parallelism = features x buckets;
    3. a tiny per-(feature, bucket) totals table (≤ features x (buckets+1)
       rows) turned into prefix offsets with a window over buckets, then
       broadcast back.

    The global rank of a value = its bucket's offset + its local rank.
    Value skew degrades bucket balance, not correctness (a fully constant
    feature collapses to one bucket — exactly the single-window cost it
    would have anyway).  The totals branch and the ranked rows read the
    same (feature, _bkt) exchange; Spark's exchange reuse runs it once.
    The MWU pipeline does not come through here: it applies the offsets to
    per-(feature, bucket, group) sums instead (:func:`rank_sums_bucketed`).
    """
    local = _bucketed_local_ranks(measure, n_buckets)
    offs = _with_bucket_offsets(
        local.groupBy("feature", "_bkt").agg(
            F.sum("c").alias("_n"), F.max(F.isnan("value")).alias("_nan")
        )
    ).select(F.col("feature").alias("_f"), F.col("_bkt").alias("_b"), "_off", "has_nan")
    on = local["feature"].eqNullSafe(offs["_f"]) & (local["_bkt"] == offs["_b"])
    return local.join(F.broadcast(offs), on).select(
        "feature",
        "value",
        "group",
        "c",
        "t",
        F.when(F.col("has_nan"), F.lit(None).cast("double"))
        .otherwise(F.col("_off") + F.col("_loc"))
        .alias("avg_rank"),
        "has_nan",
    )


def rank_sums_bucketed(measure: DataFrame, *, n_buckets: int = 64) -> DataFrame:
    """``compute_in_group_ranksum(rank_values_bucketed(measure))`` — same
    columns (feature, group, n1, rank_sum, val_sum, tie_part, has_nan) and
    the same exact rank sums — without a value-level offsets join.

    The local-rank rows aggregate straight to a (feature, _bkt, group)
    table on the partitioning they already have; the bucket offsets are
    applied to that table: a group's rank sum in a bucket is
    ``Σ c·_loc + _off·n``.  Every term is a half-integer, so the sums are
    exact in any order and U stays bit-exact.  ``val_sum`` is a float sum
    in another order than the windowed plan's (LFC agrees to rounding).
    """
    local = _bucketed_local_ranks(measure, n_buckets)
    c = F.col("c").cast("double")
    t = F.col("t").cast("double")
    per_bucket = local.groupBy("feature", "_bkt", "group").agg(
        F.sum("c").alias("_n"),
        F.sum(c * F.col("_loc")).alias("_loc_sum"),
        F.sum(c * F.col("value")).alias("val_sum"),
        F.sum(c * (t * t - F.lit(1.0))).alias("tie_part"),
        F.max(F.isnan("value")).alias("_nan"),
    )
    return (
        _with_bucket_offsets(per_bucket)
        .groupBy("feature", "group")
        .agg(
            F.sum("_n").alias("n1"),
            F.sum(
                F.when(
                    ~F.col("has_nan"), F.col("_loc_sum") + F.col("_off") * F.col("_n")
                )
            ).alias("rank_sum"),
            F.sum("val_sum").alias("val_sum"),
            F.sum("tie_part").alias("tie_part"),
            F.max("has_nan").alias("has_nan"),
        )
    )


def rank_data(measure: DataFrame, *, id_cols: tuple[str, ...] = ("obs_id",)) -> DataFrame:
    """Per-row ranks — API parity with reference ``rank_data`` (R2).

    The pipeline itself never needs per-row ranks (rank *sums* suffice), but
    the reference exposes them, so we do too: join raw rows back to the
    value-level rank table.  The rank table is tiny relative to the data
    whenever there are ties, so Spark/AQE will usually broadcast it; the
    worst case is a sort-merge join on (feature, value), still fully
    distributed (no single-feature sort hotspot).

    Output adds ``rank`` (scipy average rank, NULL on NaN-poisoned features)
    and ``tie_count`` (multiplicity t of this row's value; the reference
    stores t only at the first member of a run — rank_data.py:191 — but every
    consumer only uses sum(t^3 - t), which is invariant to that encoding).
    """
    _check_measure(measure)
    rv = rank_values(measure).select("feature", "value", "group", "t", "avg_rank")
    src = measure.withColumn("value", _canonical_value())
    return src.join(rv, on=["feature", "value", "group"], how="left").select(
        *id_cols,
        "group",
        "feature",
        "value",
        F.col("avg_rank").alias("rank"),
        F.col("t").alias("tie_count"),
    )
