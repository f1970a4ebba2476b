"""The benchmark's workloads: their inputs, their queries and their oracles.

Each workload is a closed loop from one client.  A pass runs every query
once: the builder, then ``.collect()``, then ``release_caches()``.  The
registered-query workloads call builders from the query registry
(``__spark_entry__.queries()`` and its extension part) and check results
against their DuckDB twins (``oracle_sql()``) through
``tools/check_oracle.compare``; ``mwu_matrix`` runs the paper's own
pipeline and checks it against the numpy oracle in ``tests/oracle.py``.
Why each workload exists: BENCHMARK.json and perfbench/README.md.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

# 500 documents and 500 vectors match the repo's sf0.01 test tables, not its
# sf0.1 ones (5,000 and 2,000), so that a run fits its time budget
# (perfbench/README.md); every fixed query id in the registry (the largest
# is 499) exists.
CORPUS_DOCS = 500
CORPUS_VECS = 500
CORPUS_SEED = 20240611

# the largest matrix whose runs fit the time budget (perfbench/README.md)
MWU_OBS = 32_000
MWU_COUNT_FEATURES = 16
MWU_CONT_FEATURES = 16
MWU_GROUPS = 8
MWU_BUCKETS = 64

# U is compared exactly.  p and p_adj are not: on 32,000 observations the
# normal approximation's float terms round differently in Spark than in
# numpy, and p moved by up to 1e-13 of its value (count features, p near
# 1e-78).  LFC is a ratio of group means whose float sums run in another
# order, so it is compared at tests/test_lfc.py's tolerance.
P_RTOL = 1e-10
LFC_RTOL = 1e-9
LFC_ATOL = 1e-12


@dataclass(frozen=True)
class Registered:
    """Registered builders on generated ``documents`` and ``embeddings``.

    The inputs are fixed and the seed permutes the query order of every
    pass, so job and exchange counts repeat exactly across seeds."""

    name: str
    queries: tuple[str, ...]

    def input_dir(self, work: str, seed: int) -> str:
        return os.path.join(work, "data", f"corpus-{CORPUS_DOCS}-{CORPUS_VECS}-{CORPUS_SEED}")

    def gen_args(self, seed: int) -> list[str]:
        return ["corpus", *map(str, (CORPUS_DOCS, CORPUS_VECS, CORPUS_SEED))]

    def order(self, rng: random.Random) -> list[str]:
        names = list(self.queries)
        rng.shuffle(names)
        return names

    def builders(self, spark, data_dir: str) -> dict:
        """Query name -> zero-argument builder returning a lazy DataFrame.

        The builders come from ``extension_queries()``, the part of the
        registry these queries live in.  ``__spark_entry__.queries()``
        returns the same builders but spends about 3 s per call (it calls
        ``oracle_sql()`` once per query), time that enters no metric; it is
        used only when a query has moved out of the extension registry."""
        import __spark_entry__
        import extensions_entry

        registry = extensions_entry.extension_queries()
        if not set(self.queries) <= registry.keys():
            registry = __spark_entry__.queries()
        return {q: (lambda fn=registry[q]: fn(spark, data_dir)) for q in self.queries}

    def verify(self, data_dir: str, results: dict, nproc: int) -> dict[str, list[str]]:
        """Each cold result (query name -> pandas frame) against its DuckDB
        twin; returns name -> problems (empty list = exact match)."""
        import duckdb
        import __spark_entry__
        from tools.check_oracle import compare

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {nproc}")
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                )
            return {
                name: compare(name, got, con.execute(oracles[name]).fetchdf())
                for name, got in results.items()
            }
        finally:
            con.close()


@dataclass(frozen=True)
class MwuMatrix:
    """``rank_features_by_group`` over ``melt`` of a seeded dense matrix:
    the count features with the windowed rank, the continuous ones with the
    bucketed rank.  The seed makes the matrix; the order is fixed."""

    name: str = "mwu_matrix"
    queries: tuple[str, ...] = ("mwu_counts", "mwu_continuous")
    # query -> (feature-name prefix, n_value_buckets)
    calls = {"mwu_counts": ("count_", None), "mwu_continuous": ("cont_", MWU_BUCKETS)}

    def input_dir(self, work: str, seed: int) -> str:
        return os.path.join(work, "data", f"mwu-{MWU_OBS}-{seed}")

    def gen_args(self, seed: int) -> list[str]:
        sizes = (MWU_OBS, MWU_COUNT_FEATURES, MWU_CONT_FEATURES, MWU_GROUPS, seed)
        return ["mwu", *map(str, sizes)]

    def order(self, rng: random.Random) -> list[str]:
        return list(self.queries)

    def builders(self, spark, data_dir: str) -> dict:
        from dask_mwu_spark import load_table, melt, rank_features_by_group

        # the source is defined once, as in a user's session; every pass
        # still scans the parquet in its exec phase
        wide = load_table(spark, data_dir, "mwu_matrix")

        def build(prefix: str, n_value_buckets: int | None):
            features = [c for c in wide.columns if c.startswith(prefix)]
            return rank_features_by_group(
                melt(wide, ["obs_id", "group"], features), n_value_buckets=n_value_buckets
            )

        return {q: (lambda args=args: build(*args)) for q, args in self.calls.items()}

    def verify(self, data_dir: str, results: dict, nproc: int) -> dict[str, list[str]]:
        """One ``full_oracle`` call per ``rank_features_by_group`` call, on
        that call's feature subset, because BH adjusts within a call.  The
        pipeline output carries U, p, p_adj and LFC; n1, n2, rank_sum and
        tie_term are not output columns, but U = rank_sum - n1(n1+1)/2 is
        compared exactly and p, a function of n1, n2 and tie_term, to
        ``P_RTOL``."""
        import pandas as pd
        from tests.oracle import full_oracle

        wide = pd.read_parquet(os.path.join(data_dir, "mwu_matrix.parquet"))
        labels = wide["group"].to_numpy()
        out = {}
        for name, got in results.items():
            features = [c for c in wide.columns if c.startswith(self.calls[name][0])]
            exp = full_oracle(wide[features].to_numpy(), labels)
            problems = [] if len(got) == len(exp) else [f"row count {len(got)} vs {len(exp)}"]
            for r in got.itertuples(index=False):
                e = exp.get((f"gene_{features.index(r.gene)}", r.group))
                if e is None:
                    problems.append(f"unexpected row {r.gene}/{r.group}")
                elif r.U != e["u"] or not all(
                    math.isclose(a, b, rel_tol=P_RTOL, abs_tol=0.0)
                    for a, b in ((r.p_value, e["p"]), (r.p_adjusted, e["p_adj"]))
                ):
                    problems.append(f"{r.gene}/{r.group}: U, p, p_adj {r.U}, {r.p_value}, "
                                    f"{r.p_adjusted} vs {e['u']}, {e['p']}, {e['p_adj']}")
                elif not math.isclose(r.logfoldchange, e["lfc"], rel_tol=LFC_RTOL, abs_tol=LFC_ATOL):
                    problems.append(f"{r.gene}/{r.group}: lfc {r.logfoldchange} vs {e['lfc']}")
            out[name] = problems[:5]
        return out


WORKLOADS = {
    w.name: w
    for w in (
        MwuMatrix(),
        Registered("corpus_build", ("graph_pagerank", "text_bpe_encode")),
        Registered("ann_serve", ("sim_ivf_pq_trained_topk", "sim_ivf_delete_topk")),
    )
}
