"""Physical-plan audit over every registered query: counts the
scale-relevant plan features Catalyst chose and flags anti-patterns.

For each `queries()` entry (built against sf0.01 — plan SHAPE, not
timing) it reports:
- exchanges: shuffle boundaries (ShuffleExchange; broadcast exchanges
  counted separately — those are the cheap kind)
- join strategies seen (BroadcastHashJoin / SortMergeJoin / ...)
- whether the parquet/JDBC scan carries pushed filters
- whether Python (Arrow) evaluation appears, and of which kind
- FLAGS: CartesianProduct, BroadcastNestedLoopJoin (except the
  deliberate literal-config cross join), row-at-a-time PythonUDF

Writes PLANS.md (the committed audit) when run with --write.
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: the fixture the committed golden is pinned to — tests/
#: test_plan_regression.py compiles against this SAME constant, so a
#: golden written under a SPARK_GRAFT_PLAN_SF_DIR override would
#: silently desync the gate (join-strategy choices depend on input
#: sizes). main() therefore refuses to write plan_golden.json when
#: the override points elsewhere (ADVICE r12).
GOLDEN_SF_DIR = "/root/testdata/sf0.01"
SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", GOLDEN_SF_DIR)

#: queries whose BroadcastNestedLoopJoin is the *intended* plan — in
#: every case the nested-loop side is a broadcast relation that stays
#: tiny at ANY data scale, so the "nested loop" is a map-side constant:
#: - join_cross_configs / pipeline_image_records: crossJoin against the
#:   literal dataset-config table (|configs| rows)
#: - incremental_lookback / incremental_new_keys: crossJoin against a
#:   1-row broadcast scalar-subquery anchor (max(ts) / cutoff)
#: - similarity_topk_bruteforce: the labeled exact baseline — broadcast
#:   query set scored against the candidate scan
#: - similarity_ivf_probe / dedup_semantic_cells: broadcast centroid
#:   codebook (√n rows) scored per vector for list assignment
#: - text_bigram_lm_score: crossJoin against the 1-row broadcast
#:   vocabulary-size scalar (same class as the incremental_* anchors)
ALLOWED_BNLJ = {
    "join_cross_configs",
    "pipeline_image_records",
    "incremental_lookback",
    "incremental_new_keys",
    "incremental_backfill_partitions",
    "analytics_market_basket",
    "dq_benford_first_digit",
    "similarity_topk_bruteforce",
    "similarity_ivf_probe",
    "similarity_ivf_scaled",
    "similarity_ivf_pq",
    "dedup_semantic_cells",
    "text_bigram_lm_score",
    # late-r7: same broadcast-constant class —
    # - similarity_pq_adc: per-query LUT maps (|queries| rows) cross-
    #   joined to the compressed scan, and the sub-codebook (M×K rows)
    #   broadcast to the encode stage
    # - sketch_distinct_loglog: |types| × m register grid densifier
    # - corpus_token_entropy: 1-row corpus-total anchor
    # - corpus_bpe_learn: 1-row argmax merge rule per round
    "similarity_pq_adc",
    "sketch_distinct_loglog",
    "corpus_token_entropy",
    "corpus_bpe_learn",
    # - analytics_markov_steady_state (r16): crossJoin vs the 1-row
    #   broadcast type-count anchor that replaced the driver-side
    #   t.count() (uniform start mass — jobless construction)
    "analytics_markov_steady_state",
    # - dq_check_rules: crossJoin vs the 1-row broadcast order-count
    #   anchor (profiling.py:209)
    # - snapshot_diff: crossJoin vs the 1-row broadcast version-cutoff
    #   anchor (incremental.py:417)
    "dq_check_rules",
    "snapshot_diff",
    # - window_sliding_distinct: crossJoin vs the 1-row broadcast
    #   max-report-day anchor
    # - corpus_perplexity_buckets: inherits text_bigram_lm_score's
    #   1-row vocabulary-size anchor
    # - analytics_ab_ttest: inequality self-join of the |event-types|-
    #   row broadcast stats table (constant-size at any event volume)
    "window_sliding_distinct",
    "corpus_perplexity_buckets",
    # - analytics_rfm_segmentation: crossJoin vs the 1-row broadcast
    #   max-order-date anchor (analytics.py — same class as
    #   dq_check_rules/snapshot_diff)
    "analytics_rfm_segmentation",
    "analytics_ab_ttest",
    # - sketch_loglog_set_ops: inequality self-join of the |types|-row
    #   broadcast type list (pair generation) + the m-row register
    #   grid densifier — both constant-size at any event volume
    "sketch_loglog_set_ops",
    # - text_pmi_collocations: crossJoin vs the 1-row broadcast
    #   total-bigram-count anchor (the PMI normalizer N)
    # - stats_chi2_independence: crossJoin vs the 1-row broadcast
    #   grand-total anchor N over the constant-size cell table
    "text_pmi_collocations",
    "stats_chi2_independence",
    # - incremental_agg_merge: crossJoin vs the 1-row broadcast
    #   cutoff anchor (same class as incremental_lookback/new_keys)
    "incremental_agg_merge",
    # - sample_contrastive_negatives: crossJoin vs the 1-row
    #   broadcast corpus-count anchor (the hash-mod modulus)
    "sample_contrastive_negatives",
    # - dq_ann_recall_eval / dq_knn_recall_eval: the exact ground
    #   truth broadcasts the query set against the candidate scan
    #   (queries are the always-small side; both evals run on a
    #   sample at 100 TB per their docstrings)
    "dq_ann_recall_eval",
    "dq_knn_recall_eval",
    # - dq_ann_recall_eval_sampled: same composition with the
    #   sampled-query predicate pushed into the broadcast query side
    #   — the BNLJ is the SAME allowlisted brute-force ground truth,
    #   now over an even smaller (~1/den) always-broadcastable side.
    #   (The knn sampled sibling has no BNLJ: its exact side is the
    #   mapInPandas candidate stream.)
    "dq_ann_recall_eval_sampled",
}


GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "plan_golden.json"
)

#: the per-entry plan-shape counts the golden map pins (VERDICT r11
#: item 5): the triangle-kernel 9×-recompute was only caught by a
#: human reading exchange counts in PLANS.md — this makes the catch
#: mechanical. "pushed" is included so a filter silently falling off
#: the scan fails too.
GOLDEN_KEYS = ("shuffles", "broadcasts", "bhj", "smj", "pushed", "arrow")


def golden_row(r: dict) -> dict:
    return {k: r[k] for k in GOLDEN_KEYS}


def audit_one(name: str, plan: str) -> dict:
    shuffles = len(re.findall(r"ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition", plan))
    return {
        "name": name,
        "shuffles": shuffles,
        "broadcasts": plan.count("BroadcastExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\s*\]", plan),
        "arrow": bool(
            re.search(r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        ),
        "py_udf": bool(re.search(r"BatchEvalPython", plan)),
    }


def main() -> int:
    import __spark_entry__ as entrymod
    from lake_satellite_image_etl_spark.session import get_spark

    write = "--write" in sys.argv
    only = [a for a in sys.argv[1:] if not a.startswith("--")]
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows, flags = [], []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            flags.append(f"{name}: PLAN ERROR {e}")
            continue
        r = audit_one(name, plan)
        rows.append(r)
        if r["cartesian"]:
            flags.append(f"{name}: CartesianProduct")
        if r["bnlj"] and name not in ALLOWED_BNLJ:
            flags.append(f"{name}: BroadcastNestedLoopJoin")
        if r["py_udf"]:
            flags.append(f"{name}: row-at-a-time PythonUDF")

    lines = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)",
        "",
        f"Plans compiled against `{SF_DIR}`; shape only, no timing.",
        "`shuf` = shuffle exchanges, `bc` = broadcast exchanges,",
        "`BHJ`/`SMJ` = hash/sort-merge joins, `push` = filters reached the",
        "scan, `arrow` = Arrow-batched pandas or Arrow stage (the sanctioned",
        "Python path). Notes: queries that finish a small near-dup graph's",
        "connected components on the driver (dedup_cluster_assign,",
        "dedup_canonical_keep, sample_cluster_safe_split,",
        "pipeline_corpus_dedup, graph_components_star) show the",
        "components as a LocalTableScan: the pair pipeline ran in the",
        "bounded edge collect at construction, and its shuffle story",
        "is the dedup_minhash_lsh row. A blank `push` on a",
        "documents/embeddings query means the query intentionally scans",
        "the full table (no filter to push). Counts are SUBSTRING",
        "counts over the explain text: a lazily persist()ed",
        "multi-consumer subtree (graph_triangle_count/_clustering_",
        "coefficient since r11) reprints its cached plan once per",
        "consumer, so those rows OVERCOUNT what executes — the cached",
        "subtree computes once (InMemoryTableScan on re-reference;",
        "measured 3.10 -> 1.23 s at sf0.1 when the persist landed).",
        "",
        "| query | shuf | bc | BHJ | SMJ | push | arrow |",
        "|---|---|---|---|---|---|---|",
    ]
    # by name: the registry's order follows the correctness rounds, so
    # it changes whenever a CORRECTNESS_r*.json file lands
    for r in sorted(rows, key=lambda r: r["name"]):
        lines.append(
            f"| {r['name']} | {r['shuffles']} | {r['broadcasts']} | "
            f"{r['bhj']} | {r['smj']} | {'y' if r['pushed'] else ''} | "
            f"{'y' if r['arrow'] else ''} |"
        )
    lines.append("")
    if flags:
        lines.append("## FLAGS")
        lines.extend(f"- {f}" for f in flags)
    else:
        lines.append(
            "## FLAGS\n\nnone — no CartesianProduct, no unintended "
            "BroadcastNestedLoopJoin, no row-at-a-time PythonUDF in any "
            "registered query. (Intended BNLJ cases — broadcast sides "
            "that stay tiny at any scale — are listed with reasons in "
            "tools/plan_audit.py::ALLOWED_BNLJ.)"
        )
    report = "\n".join(lines) + "\n"
    print(report)
    if write:
        with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as f:
            f.write(report)
        if only:
            pass  # never write a partial golden from a filtered run
        elif SF_DIR != GOLDEN_SF_DIR:
            # refuse: the regression gate always compiles against
            # GOLDEN_SF_DIR, so a golden from another fixture would
            # desync it (ADVICE r12)
            print(
                f"NOT writing plan_golden.json: SPARK_GRAFT_PLAN_SF_DIR="
                f"{SF_DIR} differs from the gate fixture {GOLDEN_SF_DIR}",
                file=sys.stderr,
            )
        else:
            # regenerate the committed plan-shape golden alongside
            # PLANS.md. The git diff of this file IS the
            # acknowledgment tests/test_plan_regression.py demands
            # for a plan-shape change.
            import json

            with open(GOLDEN_PATH, "w") as f:
                json.dump(
                    {r["name"]: golden_row(r) for r in rows},
                    f,
                    indent=1,
                    sort_keys=True,
                )
                f.write("\n")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
