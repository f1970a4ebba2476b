"""Regenerate PLANS.md: the formatted physical plan of each headline bench
query at sf0.01, with the scale-relevant features called out per plan
(pushed filters, whole-stage codegen spans, exchange count, join
strategies).  Evidence artifact for plan review — run after any operator
refactor and diff.

Run: python tools/dump_plans.py [queries...]

With no query names it rewrites PLANS.md with every headline section.
With names it prints just those sections to stdout and leaves PLANS.md
alone — the form to diff one query's plan between two checkouts.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES
from dask_mwu_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

# round-4 operators: not in the bench headline set, but their plan shapes
# are review evidence like everything else
R4_EXTRAS = [
    "text_bm25_topk",
    "text_source_overlap",
    "dedup_dup_spans",
    "dedup_span_stats",
    "cur_token_shards",
    "cur_weighted_sample",
    "orders_snapshot_diff",
    "text_novelty",
    "cur_mixture_kl",
    "dedup_rate_by_source",
    "events_window_dedup",
    "dedup_trim_spans",
    # round 4b
    "events_psi_drift",
    "customer_k_anonymity",
    "text_zipf_fit",
    "dedup_tfidf_cosine",
    "dedup_sorted_neighborhood",
    "events_rolling_dau",
    "events_cooccurrence",
    "text_source_entropy",
    "graph_pagerank",
    "dedup_components_fixed",
    "cur_quality_exact_pctile",
    # round 4c
    "text_lm_score",
    "dedup_containment",
    "audit_orders_reconcile",
    "events_mad_outliers",
    "events_salted_join",
    "dedup_lsh_recall",
    "sim_ann_recall",
    "events_two_phase_agg",
    "events_markov",
    "lineitem_benford",
    "customer_rfm",
    "mwu_full_rounded",
    "sim_cluster_quality",
    "events_value_p90_hist",
    "part_cheapest_supplier",
    "events_stickiness",
    "star_local_supplier_volume",
    # round 5
    "text_gopher_rules",
    "cur_dsir_weights",
    "sim_matryoshka_recall",
    "cur_fuzzy_contamination",
    "cur_dsir_resample",
    "sim_pq_topk",
    "sim_pq_recall",
    "sim_ivf_pq_topk",
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_summary(plan: str) -> str:
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_reused = len(re.findall(r"ReusedExchange", plan))
    joins = sorted(
        set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan))
    )
    n_codegen = len(
        set(re.findall(r"\[codegen id : (\d+)\]", plan))
        or set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    )
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    take_ordered = "TakeOrderedAndProject" in plan
    bits = [
        f"{n_exchange} exchanges ({n_reused} reused)",
        f"joins: {', '.join(joins) if joins else 'none'}",
    ]
    if n_codegen:
        bits.append(f"{n_codegen} codegen spans")
    if pushed:
        bits.append(f"{pushed} scans with pushed filters")
    if take_ordered:
        bits.append("TakeOrderedAndProject top-k")
    return "; ".join(bits)


def main() -> None:
    picked = sys.argv[1:]
    names = picked or (BENCH_QUERIES + R4_EXTRAS)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — headline-query physical plans (sf0.01, regenerate via "
        "`python tools/dump_plans.py`)\n",
        "One section per bench query: a one-line scale summary, then the "
        "formatted plan.\n",
    ]
    for name in names:
        plan = formatted_plan(qs[name](spark, SF_DIR))
        out.append(f"\n## {name}\n")
        out.append(f"**{plan_summary(plan)}**\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    if picked:
        print("\n".join(out))
    else:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo_root, "PLANS.md"), "w") as f:
            f.write("\n".join(out))
        print(f"PLANS.md written ({len(names)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
