"""Round-13 optimization pins.

The r13 optimization round rewrote several operator internals for
performance with a bit-identity contract; these tests pin the contracts
directly (the oracle battery pins them end-to-end):

- driver-side Lloyd training == the r12 engine-expression form, value
  for value (the trainers' exactness rules all flow through it);
- _round6 == the engine's round(double, 6) on adversarial values;
- array-form minhash signatures == the long-form table, position for
  position (fuzzy decontamination rides them);
- the bench stdout line still fits the driver's tail-capture window
  with the r13 master/parallelism stamp included.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_mwu_spark.operators import similarity as sim


def _old_lloyd(train, cb, *, n_iter, dim):
    """The r12 single-row expression-chain Lloyd loop, reconstructed from
    the kept _lloyd_round_expr — the engine-side reference the driver-side
    loop must match bit for bit."""
    T_row = train.agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "s", "x"))).alias("T")
    )
    C_row = cb.agg(
        F.sort_array(F.collect_list(F.struct("s", "c", "w"))).alias("C")
    )
    state = T_row.crossJoin(F.broadcast(C_row))
    for _ in range(n_iter):
        state = state.select(
            F.col("T"),
            sim._lloyd_round_expr(F.col("T"), F.col("C"), dim).alias("C"),
        ).localCheckpoint(eager=True)
    return state.select(F.explode("C").alias("_e")).select(
        F.col("_e.s").alias("s"),
        F.col("_e.c").alias("c"),
        F.col("_e.w").alias("w"),
    )


def _snap(df):
    return sorted(
        (r["s"], r["c"], tuple(r["w"])) for r in df.collect()
    )


@pytest.fixture()
def emb_fixture(spark):
    # structured but irregular vectors: clusters + noise + exact ties
    rows = []
    for i in range(60):
        base = [((i % 5) * 7 + d * 0.3) % 11 - 5.5 for d in range(8)]
        rows.append((i, [float(round(v + ((i * d) % 3) * 0.17, 3)) for d, v in enumerate(base)]))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_lloyd_python_matches_expression_form(spark, emb_fixture):
    vecs = sim._with_vec(emb_fixture)
    train = vecs.where(F.col("vec_id") < 48).select(
        "vec_id", F.lit(0).alias("s"), F.col("vec").alias("x")
    )
    cb = train.where(F.col("vec_id") < 6).select(
        "s", F.col("vec_id").cast("int").alias("c"), F.col("x").alias("w")
    )
    old = _snap(_old_lloyd(train, cb, n_iter=3, dim=8))
    new = _snap(sim._lloyd_iterations(train, cb, n_iter=3, dim=8))
    assert old == new


def test_lloyd_python_matches_expression_form_subvectors(spark, emb_fixture):
    # the PQ shape: 8 subspaces of dim 1 on this fixture's 8-dim vectors
    vecs = sim._with_vec(emb_fixture)
    subs = vecs.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice(F.col("vec"), s * 2 + 1, 2) for s in range(4)])
        ).alias("s", "x"),
    )
    train = subs.where(F.col("vec_id") < 40)
    cb = train.where(F.col("vec_id") < 4).select(
        "s", F.col("vec_id").cast("int").alias("c"), F.col("x").alias("w")
    )
    old = _snap(_old_lloyd(train, cb, n_iter=2, dim=2))
    new = _snap(sim._lloyd_iterations(train, cb, n_iter=2, dim=2))
    assert old == new


def test_lloyd_empty_cluster_keeps_position(spark):
    # two far clusters, one seed stranded between duplicates: the seed
    # that attracts nothing must keep its previous w (both forms)
    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [100.0, 100.0]), (3, [100.1, 100.0])]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    vecs = sim._with_vec(emb)
    train = vecs.select("vec_id", F.lit(0).alias("s"), F.col("vec").alias("x"))
    cb = train.where(F.col("vec_id") < 2).select(
        "s", F.col("vec_id").cast("int").alias("c"), F.col("x").alias("w")
    )
    old = _snap(_old_lloyd(train, cb, n_iter=2, dim=2))
    new = _snap(sim._lloyd_iterations(train, cb, n_iter=2, dim=2))
    assert old == new


def test_round6_matches_engine_round(spark):
    vals = [
        0.0, -0.0, 1.0, 2.675, -2.675, 0.1234565, 0.1234575, -0.1234565,
        1e-7, -1e-7, 5e-7, -5e-7, 1.5e-6, 123456.9999995, 1e15 + 0.5,
        3.0000004999999997, 0.30000000000000004, 1 / 3, -1 / 7, 2.5000005,
        -2.5000005, 99.9999995, -99.9999995, 1234.0000005,
        float("inf"), float("-inf"), float("nan"), 1e22, -1e22, 1e300,
        -1e300, 1.7976931348623157e308,
    ]
    # a typed row list, not pandas: pandas conversion turns NaN into NULL
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    engine = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    ours = [sim._round6(v) for v in vals]
    # compare by repr so 0.0 vs -0.0 differences are caught too
    assert [repr(e) for e in engine] == [repr(o) for o in ours]


def test_minhash_sig_arrays_match_long_form(spark):
    from dask_mwu_spark.operators.dedup import (
        _band_keys_from_sig,
        _band_keys_from_sig_array,
        minhash_sig_arrays,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(12),
                "text": [
                    f"w{i} w{(i * 3) % 7} w{(i + 1) % 5} w{i % 2} w{(i * 5) % 9} end"
                    for i in range(12)
                ],
            }
        )
    )
    long = {
        (r["doc_id"], r["i"]): r["minh"]
        for r in minhash_signatures(docs).collect()
    }
    arr = {r["doc_id"]: list(r["sig"]) for r in minhash_sig_arrays(docs).collect()}
    assert set(arr) == {d for d, _ in long}
    for d, sig in arr.items():
        assert len(sig) == 16
        for i, v in enumerate(sig):
            assert v == long[(d, i)], (d, i)
    bands_long = sorted(
        (r["doc_id"], r["band"], r["band_key"])
        for r in _band_keys_from_sig(minhash_signatures(docs)).collect()
    )
    bands_arr = sorted(
        (r["doc_id"], r["band"], r["band_key"])
        for r in _band_keys_from_sig_array(minhash_sig_arrays(docs)).collect()
    )
    assert bands_long == bands_arr


def test_bench_line_budget_with_master_stamp():
    import bench

    # realistic worst case: every benched query at a 3-digit-second
    # median plus the r13 master/parallelism stamp — must still fit the
    # driver's tail-capture window
    timings = {name: 999.999 for name in bench.BENCH_QUERIES}
    line, detail = bench.format_bench_output(
        timings,
        "0.1",
        3,
        loaded=False,
        start_1m=12.34,
        master="local[32]",
        parallelism=32,
    )
    assert len(line) <= bench.TAIL_CAPTURE_BUDGET
    import json

    parsed = json.loads(line)
    assert parsed["master"] == "local[32]"
    assert parsed["parallelism"] == 32
