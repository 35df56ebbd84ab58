"""Plan linter — automated antipattern scan over EVERY registry query.

The hand-written plan contracts (tests/test_plans.py) pin the load-bearing
shapes of ~20 queries; this tool sweeps the whole registry so a regression
in any of the other ~130 plans (a filter that stops pushing, a join that
degrades to a cartesian product, Python eval sneaking into a pure-Catalyst
query) is caught mechanically instead of by eyeball.

Checks per query (physical plan string at sf0.01):
- CartesianProduct: forbidden except in the declared quadratic oracle
  baselines (which are ALSO input-guarded at runtime, ext/dedup.py).
- BroadcastNestedLoopJoin: allowed only where a deliberate broadcast
  theta-join exists (cross-scoring against a broadcast constant side —
  ANN query sets, scalar thresholds); anything else is usually a join
  whose equi-condition was lost.
- Python evaluation (BatchEvalPython / ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas / MapInArrow / PythonUDTF): allowed only in
  queries that EXIST to exercise the Python harness; a pure-relational or
  ext query growing a Python node means a built-in got replaced by a UDF.
- Unfused element-wise runs: a MapInPandas whose child, looking through
  Project nodes, is another MapInPandas. Consecutive general-path
  map/filter/flat_map/each applications fuse into ONE mapInPandas
  (operators/_common.py ``fuse``), and so do concat's pickling and
  ``Stage.decode``; a stacked pair means some lowering bypassed the fusion
  and pays an extra JVM↔Python round trip per row. No query is exempt.
- InMemoryTableScan of a non-persisted plan / missing scan: not checked —
  persist decisions are measured case by case (SCALING.md).

Streaming queries execute eagerly when built (their fn returns the drained
memory-sink frame), so their plan is a LocalTableScan — lint skips them by
name prefix unless --include-streaming (they're covered by their own
staged-replay tests).

Usage: python tools/plan_lint.py [--include-streaming] [name ...]
Writes one JSON line {"checked": N, "violations": {...}}; exit 1 on any
violation. The fast subset runs in CI via tests/test_plans.py.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("PYPELN_SPARK_LINT_SF", "/root/testdata/sf0.01")

# Quadratic-by-design oracle baselines (runtime-guarded via guard_quadratic)
ALLOW_CARTESIAN = {
    "dedup_ngram_jaccard_exact",
    "embedding_near_dup_pairs",
    "embedding_near_dup_recall_eval",  # embeds the exact arm as ground truth
    "dedup_simhash_recall_eval",  # exact XOR-popcount all-pairs ground truth
}

# Deliberate broadcast theta-joins: a tiny broadcast side crossed/range-
# compared against the corpus (ANN query sets, k-means centroid scoring,
# scalar-aggregate thresholds, histogram buckets, asof unions)
ALLOW_BNLJ = {
    # profile()'s two ONE-ROW aggregate frames (hash-able stats vs string
    # min/max — the r14 SortAggregate split) combine via a broadcast
    # cross: 1×1 rows by construction, never corpus-sized
    "quality_profile_orders",
    "ann_cosine_topk",
    "ann_knn_classify",  # composes cosine_topk's broadcast theta-join
    "search_hybrid_rrf",  # composes cosine_topk's broadcast theta-join (dense arm)
    "search_mmr_diversified_topk",  # candidate front = cosine_topk's theta-join
    "ann_lsh_bucketed_topk",
    "ann_lsh_multiprobe_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_pq_adc_topk",
    "ann_ivf_pq_topk",
    "embedding_near_dup_pairs",
    "embedding_near_dup_lsh",
    "semantic_dedup_pairs",
    "dedup_ngram_jaccard_exact",
    "q11_important_part_values",
    "q14_promo_revenue_share",
    "q17_small_quantity_revenue",
    "q22_dormant_customers",
    "text_length_histogram",
    "text_tfidf_top_terms",
    "search_tfidf_cosine_topk",  # one-row corpus-count broadcast for the idf
    "search_tfidf_pruned_recall_eval",  # same one-row idf broadcast (both arms)
    "text_unigram_lm_quality",
    "search_bm25_topk",
    "sketch_quantile_doc_lengths",
    "sketch_quantile_global_histogram",  # one-row sketch × one-row count
    "sketch_bloom_filter_probe",
    "bloom_pruned_join_revenue",  # one-row bloom-bits broadcast
    "curation_shard_manifest",
    "curation_pack_sequences",
    "events_funnel_conversion",
    "full_outer_month_spenders",
    "merge_upsert_orders",
    "q8_market_share",
    "q15_top_supplier",
    "events_gapfill_hourly",
    "curation_source_mix",  # one-row total-tokens broadcast for the share denominator
    "curation_token_budget",  # one-row total-tokens broadcast for the budget flag
    "quality_drift_events_cohorts",  # one-row cohort-totals broadcast for the shares
    "quality_ks_test_value_cohorts",  # one-row totals + bucket-offset broadcasts
    "sketch_kmv_overlap_users",  # one-row sketch × one-row sketch × one-row exact
    "curation_temperature_weights",  # one-row normalization total broadcast
    "ann_recall_eval_ivf",  # embeds cosine_topk's broadcast theta-join as ground truth
    "ann_recall_eval_lsh",  # same ground-truth theta-join, LSH retriever arm
    "ann_recall_eval_pq",  # same ground-truth theta-join, PQ-ADC retriever arm
    "ann_recall_eval_ivf_kmeans",  # same ground-truth theta-join + centroid cross-score
    "ann_recall_eval_nprobe",  # same ground-truth theta-join + centroid cross-score (r9)
    "embedding_near_dup_recall_eval",  # exact-pairs ground truth, like the ANN evals
    "dedup_simhash_recall_eval",  # same ground-truth theta-join, simhash arm
    "events_time_to_convert_quantiles",  # one-row sketch × one-row count broadcast
}

# Queries whose PURPOSE is the Python execution path (harness / UDF / UDTF /
# grouped-map / multimodal / opaque objects) — Python nodes expected
ALLOW_PYTHON_PREFIX = ("pipeline_", "multimodal_", "group_map", "group_agg")
ALLOW_PYTHON = {
    "dedup_minhash_lsh_fast",  # numpy signature fast path (mapInPandas)
}

PY_NODES = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
    r"|MapInArrow|PythonUDTF|FlatMapGroupsInPandasWithState"
)


def _node(line: str) -> tuple[int, str]:
    """(depth, operator name) of one line of a physical-plan tree string."""
    body = line.lstrip(" :|+-")
    body = re.sub(r"^\*\(\d+\)\s*", "", body)  # whole-stage-codegen marker
    return len(line) - len(line.lstrip(" :|+-")), body.split(" ", 1)[0]


def stacked_map_in_pandas(plan: str) -> int:
    """Count MapInPandas nodes whose child, through Project, is another
    MapInPandas. Both operators are unary, so a node's child is the next
    line when that line sits exactly one tree level (3 columns) deeper."""
    nodes = [_node(line) for line in plan.splitlines() if line.strip()]
    hits = 0
    for i, (depth, op) in enumerate(nodes):
        if op != "MapInPandas":
            continue
        j = i + 1
        while j < len(nodes) and nodes[j][0] == depth + 3:
            depth, op = nodes[j]
            if op == "MapInPandas":
                hits += 1
            if op != "Project":
                break
            j += 1
    return hits


def lint(plan: str, name: str) -> list[str]:
    v = []
    if "CartesianProduct" in plan and name not in ALLOW_CARTESIAN:
        v.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in ALLOW_BNLJ:
        v.append("BroadcastNestedLoopJoin")
    if (
        PY_NODES.search(plan)
        and not name.startswith(ALLOW_PYTHON_PREFIX)
        and name not in ALLOW_PYTHON
    ):
        v.append(f"python-eval:{PY_NODES.search(plan).group(0)}")
    if stacked_map_in_pandas(plan):
        v.append("stacked-MapInPandas")
    return v


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    include_streaming = "--include-streaming" in sys.argv

    from pypeln_spark.queries import REGISTRY, RETIRED
    from pypeln_spark.session import get_spark

    spark = get_spark(app_name="plan_lint")
    # retired entries keep their plan-contract bar: lint REGISTRY + RETIRED
    everything = {**REGISTRY, **RETIRED}
    names = args or [
        n
        for n in everything
        if include_streaming or not n.startswith("streaming_")
    ]
    violations: dict[str, list[str]] = {}
    checked = 0
    for name in names:
        # Building the DataFrame is plan-only for MOST queries; the handful
        # that drain internally while building (pump-fed sources, streaming
        # queries materialized through run_to_memory, observe-metrics) DO
        # execute here — at the lint SF they finish in seconds and their
        # returned frames are small local results, so the sweep stays cheap
        # and their final plans are still linted (ADVICE r3: the old
        # "never execute" claim was wrong).
        df = everything[name].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        checked += 1
        v = lint(plan, name)
        if v:
            violations[name] = v
            print(f"VIOLATION {name}: {v}", file=sys.stderr)
    print(json.dumps({"checked": checked, "violations": violations}))
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
