"""Dump catalog plans.

python scripts/dump_plans.py
    Regenerate PLANS.md: executed physical plans of flagship queries,
    annotated with the scale properties each demonstrates.
python scripts/dump_plans.py <round> <suffix> name1,name2,...
    Write `.explain("formatted")` of each named entry to
    plans/<round>/<name>_<suffix>.txt — an optimization round's plan
    evidence (e.g. `r14 before`, then `r14 after`; plan claims in
    OPTIMIZATION_<round>.md are checked against these).

The scale dir comes from $SPARK_GRAFT_SF_DIR (default sf0.01)."""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from big_data_processing_spark.plans import CATALOG  # noqa: E402
from big_data_processing_spark.session import get_spark  # noqa: E402

SHOWCASE = {
    "pricing_summary": "pushed filter reaches the scan; partial+final HashAggregate",
    "region_customer_rollup": "both dims broadcast — the fact side never shuffles",
    "semi_join_building_orders": "broadcast left-semi: fact filtered in place",
    "top3_months_weekly_detail": "tiny top-3 key set broadcast back against the fact",
    "peak_order_month": "global argmax plans TakeOrderedAndProject, no full sort",
    "dedup_minhash_pairs": "signatures row-local; only band buckets shuffle",
    "knn_lsh_cosine": "banded LSH candidates + brute arm read from the shared exact-kNN artifact (r8 merge)",
    "events_asof_last_purchase": "as-of is union+window (zero join nodes in the composition); the r9-merged range arm is an interval join running as a hash join on (user, bucket) plus a broadcast key-join of the tiny per-type frames",
    "dedup_embedding_cosine": "band self-join carries bare ids; vectors re-attach after pair dedup",
    "decontamination_overlap": "eval n-gram universe broadcast; hit count map-side combinable",
    "curation_pipeline_summary": "quality+dedup+decon composed without any all-pairs or collect",
    "vocab_top_tokens": "top-100 via TakeOrderedAndProject; rank window only over the 100-row limit",
    "lineitem_winsorized_hist": "histogram+narrowing cut-finder: no per-group full-sort window, cuts broadcast back",
    "dedup_winnow_pairs": "winnowing fingerprints row-local (nested-HOF fold); only slim (id, fp) rows shuffle through a capped bucket join",
    "dedup_span_coverage": "exact-substring spans: ONE gram-hash exchange carries bucket cap AND distinct-doc dup test in a single window; span merge is a per-doc lag window (r11)",
    "knn_ivf_pq_rerank": "corpus moves as 16 4-bit codes; queries broadcast; full vectors fetched only for the 25-row-per-query shortlist (pq arm merged in r9)",
    "events_gap_fill_ffill": "date spine is a row-local sequence+explode; every window partitions by user",
    "scd2_priority_history": "change collapse + interval chain: two custkey-partitioned windows, rows = |changes|",
    "events_hopping_window": "native sliding window: hop fan-out is a row-local Generate, then one partial+final hash agg",
    "join_bucketed_revenue": "bucketed+sorted both sides: SortMergeJoin with ZERO exchanges feeding it",
    "bloom_pruned_join_revenue": "bloom probe is a row-local scan predicate (O(1) element_at + bit_get on a word-array literal) — fact rows drop before the join exchange (r9)",
    "data_quality_report": "all row-level CHECKs in one partial+final aggregate; FK probes are key-only anti joins",
    "rollup_revenue": "one Expand serves ROLLUP and CUBE families; partials aggregate map-side before the single exchange",
    "dashboard_rollup_incremental": "multi-grain MV: one cube over v0, one cube over signed CDF deltas, grain-cell join",
    "dedup_cc_star_contraction": "star contraction: each star pass one window-min exchange over slim (u,v) pairs (r9: fused lazy checkpoints, probe every 2nd alternation)",
    "av_neardup_pairs": "AV near-dup (r13): decode+fingerprint is one Arrow pass per arm; only packed (fid, 60-bit long) rows enter the capped banded hamming joins; media rollup is a groupBy over verified frame pairs — never all-pairs of media",
}


def dump_round(spark, sf_dir: str, round_name: str, suffix: str, names: list[str]) -> None:
    out_dir = os.path.join(_ROOT, "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = CATALOG[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 1:
        round_name, suffix, names = sys.argv[1:4]
        dump_round(spark, sf_dir, round_name, suffix, names.split(","))
        spark.stop()
        return
    out = [
        "# PLANS — executed physical plans of flagship queries\n",
        f"Generated by `python scripts/dump_plans.py` at `{sf_dir}`. The",
        "properties asserted in `tests/test_plan_quality.py` are visible",
        "here; regenerate after plan-affecting changes.\n",
    ]
    for name, note in SHOWCASE.items():
        df = CATALOG[name].fn(spark, sf_dir)
        df.collect()  # materialize so AQE finalizes the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"\n## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
