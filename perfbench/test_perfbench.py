"""The benchmark's own checks: its counters, its tracer, its inputs and its
refusal to run outside a checkout.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from spans import JobCounter, Tracer, exchange_counts, final_plan_nodes  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from dask_mwu_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_job_counts_stay_exact_past_retained_jobs(spark):
    """1200 jobs, past Spark's 1000 retained: each group read right after its
    jobs end is exact, while by the end the status store has trimmed the
    oldest groups, so any count taken over the whole job list would not be."""
    sc = spark.sparkContext
    jobs = JobCounter(sc)
    # a JVM-side RDD: each count is one job without a Python worker
    rdd = sc._jsc.parallelize(sc._jvm.java.util.Collections.singletonList(1), 1)
    n_groups, per_group = 30, 40
    for g in range(n_groups):
        jobs.set_group(f"g{g}")
        for _ in range(per_group):
            rdd.count()
        assert jobs.jobs(f"g{g}") == per_group
    jobs.drain()
    kept = sum(len(jobs.tracker.getJobIdsForGroup(f"g{g}")) for g in range(n_groups))
    assert kept < n_groups * per_group


def test_final_plan_walk_counts_exchanges(spark):
    """A groupBy joined to a broadcast table: one shuffle and one broadcast
    exchange in the final plan, while the executed plan's string, which
    also carries the initial plan, shows more."""
    from pyspark.sql import functions as F

    small = spark.range(3).withColumnRenamed("id", "k")
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
        .join(F.broadcast(small), "k")
    )
    assert len(df.collect()) == 3
    assert exchange_counts(final_plan_nodes(df)) == (1, 1)
    assert df._jdf.queryExecution().executedPlan().toString().count("Exchange") > 2


def test_job_counter_stages_and_tasks(spark):
    """Two stages (map and reduce side of one shuffle), two tasks each."""
    sc = spark.sparkContext
    jobs = JobCounter(sc)
    jobs.set_group("shuffle")
    sc.parallelize(range(10), 2).map(lambda x: (x % 2, x)).reduceByKey(lambda a, b: a + b, 2).collect()
    assert jobs.jobs_stages_tasks("shuffle") == (1, 2, 4)


def test_self_time_subtracts_children():
    tr = Tracer("t", 0.0)
    root = tr.add("run", 0.0, 10.0)
    tr._stack.append(root["id"])
    tr.add("a", 1.0, 4.0)
    tr.add("b", 5.0, 6.0)
    assert tr.self_times() == [6.0, 3.0, 1.0]


def test_inputs_are_a_function_of_the_seed():
    a, b, c = gen.documents(50, 1), gen.documents(50, 1), gen.documents(50, 2)
    assert a.equals(b) and not a.equals(c)
    assert (a["n_chars"] == a["text"].str.len()).all()
    assert a["text"].str.endswith(" dup").sum() == int(50 * gen.DUP_FRAC)
    m1, counts, conts = gen.mwu_matrix(100, 3, 2, 4, seed=5)
    m2, _, _ = gen.mwu_matrix(100, 3, 2, 4, seed=5)
    assert m1.equals(m2) and len(counts) == 3 and len(conts) == 2
    e = gen.embeddings(20, 3)
    norms = [float((v.astype("float64") ** 2).sum()) for v in e["embedding"]]
    assert all(abs(n - 1.0) < 1e-6 for n in norms)


def test_refuses_to_run_off_the_core_contract():
    """A ``SPARK_GRAFT_CPUS`` other than the core count is refused before
    Spark starts: non-zero exit, no result line."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0)) + 1)}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mwu_matrix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert "SPARK_GRAFT_CPUS" in proc.stderr


def test_refuses_to_run_without_the_library(tmp_path):
    """Copied away from the library, the benchmark exits non-zero without
    printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mwu_matrix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
