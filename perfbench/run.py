"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload mwu_matrix --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The run:

1. writes the workload's seeded inputs under ``.perfbench/data`` (once per
   input, in a child process, so the measured Spark driver's memory holds
   only what the library puts there);
2. times set-up: package and registry imports, then ``get_spark``;
3. runs a cold pass over the workload's queries, then warm passes until
   ``--seconds`` of them have run (at least ``MIN_WARM_PASSES``);
4. outside the timed region, checks every cold result against its oracle
   and every warm result against the cold one, and gates leaked RDDs.

With ``--trace 0`` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` warm passes alternate untraced and
traced, the per-layer metrics come from the traced ones, and the spans are
written to ``.perfbench/out``.  perfbench/README.md defines every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, HERE]

from spans import JobCounter, Tracer, exchange_counts, final_plan_nodes, plan_metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# files of the checkout the benchmark imports; without them it refuses to run
REQUIRED = (
    "dask_mwu_spark/__init__.py",
    "__spark_entry__.py",
    "extensions_entry.py",
    "tools/check_oracle.py",
    "tests/oracle.py",
)
MIN_WARM_PASSES = 3
LEAK_DRAIN_S = 1.0

# leaf spans whose self time is a layer's busy time, by per-layer metric
LEAF_SPANS = {
    "registry.build": "registry.build_s",
    "operators.plan": "operators.plan_s",
    "operators.exec": "operators.exec_s",
    "cache.release": "cache.release_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Pin the checkout under test for this process and every child: the
    Spark driver and the Python workers import the package from ROOT, and
    temporary files stay inside the checkout."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    rest = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *rest])


def setup_session():
    """The set-up a user pays: package and registry imports, then
    ``get_spark``.  Returns (spark, import start, import end, start end)."""
    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401
    import extensions_entry  # noqa: F401
    from dask_mwu_spark.session import get_spark

    t1 = time.perf_counter()
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t0, t1, time.perf_counter()


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def ensure_inputs(workload, seed: int) -> str:
    path = workload.input_dir(WORK, seed)
    if not os.path.isdir(path):
        kind, *sizes = workload.gen_args(seed)
        gen = os.path.join(HERE, "gen.py")
        subprocess.run([sys.executable, gen, kind, path, *sizes], check=True, timeout=300)
    return path


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_stamp() -> dict:
    """What was imported: the package path, the git commit when the
    checkout is a repository, and a hash of the library sources either way,
    so a parent-vs-change comparison cannot silently use the wrong tree."""
    import dask_mwu_spark

    h = hashlib.sha256()
    files = ["__spark_entry__.py", "extensions_entry.py"]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "dask_mwu_spark"))):
        files += [os.path.relpath(os.path.join(d, n), ROOT) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {"package_file": dask_mwu_spark.__file__, "git_commit": commit, "source_sha256": h.hexdigest()}


def to_frame(columns, rows):
    import pandas as pd

    return pd.DataFrame([r.asDict() for r in rows], columns=columns)


class Runner:
    """One workload in one Spark session: passes, counts and checks."""

    def __init__(self, spark, workload, data_dir: str, seed: int, tracer: Tracer | None):
        from dask_mwu_spark.cache import jvm_cached_count, tracked_count

        self.wl = workload
        self.tracer = tracer
        self.jobs = JobCounter(spark.sparkContext)
        self.builds = workload.builders(spark, data_dir)
        self.rng = random.Random(seed)
        self.tracked_count = tracked_count
        self.cached_count = lambda: jvm_cached_count(spark)
        self.cold: dict = {}
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes: list[dict] = []

    def run_pass(self, traced: bool, walk: bool = False) -> dict:
        """One pass over every query.  ``seconds`` is the sum of the
        queries' timed intervals (builder + collect + release_caches, plus
        the tracing inside them on a traced pass)."""
        idx = len(self.passes)
        rec = {"pass": idx, "traced": traced, "order": self.wl.order(self.rng), "queries": {}}
        span = self.tracer.span(f"pass[{idx}]") if self.tracer else nullcontext()
        with span as ps:
            for name in rec["order"]:
                self.attempted += 1
                try:
                    q = (self._query_traced if traced else self._query_plain)(idx, name, walk)
                except Exception:  # noqa: BLE001 - one failed query must not end the run
                    self._fail(idx, name, traceback.format_exc())
                    continue
                rec["queries"][name] = q
            if ps is not None:
                ps["counts"]["traced"] = traced
        rec["seconds"] = sum(q["seconds"] for q in rec["queries"].values())
        rec["spark_jobs"] = sum(q["jobs"] for q in rec["queries"].values())
        if walk or traced:
            rec["exchanges"] = sum(q["exchanges"] for q in rec["queries"].values())
        self.passes.append(rec)
        return rec

    def _fail(self, idx: int, name: str, why: str) -> None:
        self.failures.append({"pass": idx, "query": name, "problem": why})
        print(f"perfbench: pass {idx} {name} failed: {why}", file=sys.stderr)

    def _keep(self, idx: int, name: str, columns, rows) -> None:
        """First pass: keep the result for the oracle.  Later passes: the
        result must equal the cold one (compared outside the timed region)."""
        from tools.check_oracle import compare

        frame = to_frame(columns, rows)
        if idx == 0:
            self.cold[name] = frame
        elif name in self.cold:
            problems = compare(name, self.cold[name], frame)
            if problems:
                self._fail(idx, name, f"differs from cold result: {problems[:3]}")

    def _query_plain(self, idx: int, name: str, walk: bool) -> dict:
        from dask_mwu_spark import release_caches

        group = f"{self.wl.name}:{idx}:{name}"
        self.jobs.set_group(group)
        t0 = time.perf_counter()
        df = self.builds[name]()
        rows = df.collect()
        release_caches()
        q = {"seconds": time.perf_counter() - t0, "jobs": self.jobs.jobs(group), "rows": len(rows)}
        if walk:
            q["exchanges"] = sum(exchange_counts(final_plan_nodes(df)))
        self._keep(idx, name, df.columns, rows)
        return q

    def _query_traced(self, idx: int, name: str, walk: bool) -> dict:
        from dask_mwu_spark import release_caches

        tr, jobs = self.tracer, self.jobs
        group = f"{self.wl.name}:{idx}:{name}"
        with tr.span(f"query:{name}") as qs:
            with tr.span("registry.build") as s:
                jobs.set_group(group + ":build")
                df = self.builds[name]()
            s["counts"].update(zip(("jobs", "stages", "tasks"), jobs.jobs_stages_tasks(group + ":build")))
            with tr.span("operators.plan") as s:
                jobs.set_group(group + ":plan")
                df._jdf.queryExecution().executedPlan()
            s["counts"]["jobs"] = jobs.jobs(group + ":plan")
            with tr.span("operators.exec") as s:
                jobs.set_group(group + ":exec")
                rows = df.collect()
            s["counts"].update(zip(("jobs", "stages", "tasks"), jobs.jobs_stages_tasks(group + ":exec")))
            s["counts"].update(plan_metrics(final_plan_nodes(df)))
            s["counts"]["rows"] = len(rows)
            tracked, persistent = self.tracked_count(), self.cached_count()
            with tr.span("cache.release") as s:
                release_caches()
            s["counts"].update(tracked=tracked, persistent_rdds=persistent)
        self._keep(idx, name, df.columns, rows)
        children = [c for c in tr.spans if c["parent"] == qs["id"]]
        counts = {c["name"]: c["counts"] for c in children}
        return {
            "seconds": qs["end"] - qs["start"],
            "jobs": sum(c["counts"]["jobs"] for c in children if "jobs" in c["counts"]),
            "exchanges": counts["operators.exec"]["operators.shuffle_exchanges"]
            + counts["operators.exec"]["operators.broadcast_exchanges"],
            "rows": len(rows),
            "span": qs["id"],
        }

    def layer_metrics(self, rec: dict) -> dict[str, float]:
        """Per-layer totals of one traced pass."""
        tr = self.tracer
        selfs = tr.self_times()
        m = collections.defaultdict(float)
        for q in rec["queries"].values():
            qid = q["span"]
            m["trace.query_self_s"] += selfs[qid]
            for c in (s for s in tr.spans if s["parent"] == qid):
                if c["name"] in LEAF_SPANS:
                    m[LEAF_SPANS[c["name"]]] += selfs[c["id"]]
                cnt = c["counts"]
                if c["name"] == "registry.build":
                    m["registry.build_jobs"] += cnt["jobs"]
                elif c["name"] == "operators.exec":
                    m["operators.exec_jobs"] += cnt["jobs"]
                    m["operators.exec_stages"] += cnt["stages"]
                    m["operators.exec_tasks"] += cnt["tasks"]
                    m["result.rows"] += cnt["rows"]
                    for k, v in cnt.items():
                        if "." in k:
                            m[k] += v
                elif c["name"] == "cache.release":
                    m["cache.tracked"] += cnt["tracked"]
                    m["cache.persistent_rdds"] += cnt["persistent_rdds"]
        return dict(m)


def median_of(values):
    return statistics.median(values) if values else float("nan")


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    cpus = nproc()
    data_dir = ensure_inputs(wl, args.seed)
    tracer = Tracer(f"{wl.name}-s{args.seed}", T_START) if args.trace else None
    spark, t0, t1, t2 = setup_session()
    try:
        if tracer:
            tracer.add("session.import", t0, t1)
            tracer.add("session.start", t1, t2)
        stamp = load_stamp(spark, wl, args, cpus)
        runner = Runner(spark, wl, data_dir, args.seed, tracer)
        with tracer.span("run") if tracer else nullcontext():
            cold, warm = measure(runner, args.seconds, traced_run=bool(tracer))
        t_checks = time.perf_counter()
        peak_rss = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")
        leaked = leak_gate(spark)
        runner.attempted += 1
        if leaked:
            runner._fail(-1, "leak-gate", f"{leaked} non-checkpoint RDDs persist after release_caches")
        for name, problems in wl.verify(data_dir, runner.cold, cpus).items():
            if problems:
                runner._fail(0, name, f"oracle mismatch: {problems}")
        stamp["loadavg_1m_end"] = os.getloadavg()[0]
        stamp["phases_s"] = {
            "before_setup": t0 - T_START,
            "setup": t2 - t0,
            "passes": t_checks - t2,
            "checks": time.perf_counter() - t_checks,
        }
    finally:
        shutdown(spark)

    untraced = [p["seconds"] for p in warm if not p["traced"]]
    if tracer:
        traced = [p for p in warm if p["traced"]]
        layers = [runner.layer_metrics(p) for p in traced]
        metrics = {k: median_of([m.get(k, 0.0) for m in layers]) for k in set().union(*layers)}
        metrics["session.import_s"] = t1 - t0
        metrics["session.start_s"] = t2 - t1
        metrics["session.peak_rss_mb"] = peak_rss
        metrics["cache.leaked_rdds"] = leaked
        metrics["trace.warm_pass_s"] = median_of([p["seconds"] for p in traced])
        metrics["trace.overhead_s"] = metrics["trace.warm_pass_s"] - median_of(untraced)
    else:
        metrics = {
            "setup_s": t2 - t0,
            "cold_pass_s": cold["seconds"],
            "warm_pass_s": median_of(untraced),
            "spark_jobs": warm[0]["spark_jobs"],
            "exchanges": warm[0]["exchanges"],
        }
    units = metric_units(args.trace)

    details = {
        **stamp,
        "metrics": metrics,
        "peak_rss_mb": peak_rss,
        "leaked_rdds": leaked,
        "failed_frac": len(runner.failures) / runner.attempted,
        "spark_jobs_repeat": len({p["spark_jobs"] for p in warm if not p["traced"]}) == 1,
        "passes": runner.passes,
        "failures": runner.failures,
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{wl.name}-s{args.seed}-t{args.trace}")
    if tracer:
        tracer.write(stem + "-spans.json")
        self_times = {k: metrics[k] for k in (*LEAF_SPANS.values(), "trace.query_self_s")}
        details["largest_self_time"] = max(self_times, key=self_times.get)
    with open(stem + ".json", "w") as fh:
        json.dump(details, fh, indent=1, default=str)

    print(f"perfbench: {wl.name} seed={args.seed} master={stamp['master']} "
          f"package={stamp['package_file']} sha256={stamp['source_sha256'][:12]} details={stem}.json")
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json:
    the end-to-end metrics untraced, the per-layer metrics traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def load_stamp(spark, wl, args, cpus: int) -> dict:
    """The load and core contract of this run, and the tree under test.
    A session that is not ``local[nproc]`` with ``nproc`` default
    parallelism raises, so such a run prints no result to compare."""
    sc = spark.sparkContext
    graft_cpus = os.environ["SPARK_GRAFT_CPUS"]
    stamp = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": graft_cpus,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "loadavg_1m_start": os.getloadavg()[0],
        **tree_stamp(),
    }
    if (graft_cpus, stamp["master"], stamp["defaultParallelism"]) != (str(cpus), f"local[{cpus}]", cpus):
        raise RuntimeError(
            f"core contract broken: nproc={cpus}, SPARK_GRAFT_CPUS={graft_cpus}, "
            f"master={stamp['master']}, defaultParallelism={stamp['defaultParallelism']}"
        )
    return stamp


def measure(runner: Runner, seconds: float, traced_run: bool):
    """The cold pass, then warm passes until ``seconds`` of them have run
    and at least MIN_WARM_PASSES of each kind.

    The JIT is still compiling after the cold pass, so the first warm pass
    runs 15-40% slower than the next ones; a median over at least three
    passes sets it aside.  (A separate unmeasured warm-up pass cost 5 s a
    run and did not narrow the run-to-run spread: 0.14 with it, 0.10
    without, ten runs of mwu_matrix.)  The first warm pass also walks the
    final plans for ``exchanges``, outside any timed interval.  A traced run
    alternates untraced and traced passes, so the tracing overhead is
    measured within one session."""
    cold = runner.run_pass(traced=traced_run)
    kinds = {False, traced_run}
    warm: list[dict] = []
    while (
        sum(p["seconds"] for p in warm) < seconds
        or min(sum(1 for p in warm if p["traced"] == k) for k in kinds) < MIN_WARM_PASSES
    ):
        traced = traced_run and len(warm) % 2 == 1
        warm.append(runner.run_pass(traced=traced, walk=not warm))
        if not warm[-1]["queries"]:
            raise RuntimeError("every query of a warm pass failed")
    return cold, warm


def leak_gate(spark) -> int:
    """Non-checkpoint RDDs still persisted after the final release."""
    from dask_mwu_spark import release_caches
    from dask_mwu_spark.cache import gc_reclaim, jvm_leaked_count

    release_caches()
    gc_reclaim(spark, timeout_s=LEAK_DRAIN_S)
    return jvm_leaked_count(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the library; missing {missing}", file=sys.stderr)
        return 2
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS", str(nproc()))
    if graft_cpus != str(nproc()):
        print(f"perfbench: SPARK_GRAFT_CPUS={graft_cpus} but nproc={nproc()}; the benchmark "
              "runs on local[nproc] only, so it refuses to report a result", file=sys.stderr)
        return 3
    configure_env()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
