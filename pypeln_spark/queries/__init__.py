"""Query registry — the judged surface.

Every entry pairs a Spark implementation (built on pypeln_spark's operator /
relational / extension layers) with the equivalent ANSI SQL that DuckDB runs
on the same parquet files. The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json) — column names are aligned on both sides, and every
order-sensitive float reduction goes through the decimal-cast convention
(pypeln_spark/functions.py) so values are bit-identical across engines.
"""

from .base import REGISTRY, RETIRED, Query, register, tables

# Importing the modules populates REGISTRY in module order; the explicit
# _PRIORITY reorder below then decides the DRIVER-VISIBLE order. The driver
# hash-checks the first 50 registered queries per round, so the front of
# the registry is rotated each round toward the queries with the fewest /
# stalest driver correctness rows (see the rotation note above _PRIORITY).
# ALL registry entries are covered every session by the local DuckDB gate
# (tests/test_correctness_gate.py replays every oracle), and every output
# schema is contract-tested canonicalizer-safe (assert_driver_safe_schema
# inside the gate), so front-loading unusual output types carries no
# blast-radius risk.
from . import pipeline  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import curation  # noqa: E402,F401

try:  # later phases; keep imports soft so a broken module never kills entry()
    from . import text  # noqa: F401
except ImportError:  # pragma: no cover
    pass
try:
    from . import dedup  # noqa: F401
except ImportError:  # pragma: no cover
    pass
try:
    from . import similarity  # noqa: F401
except ImportError:  # pragma: no cover
    pass
from . import relational2  # noqa: E402,F401
from . import relational3  # noqa: E402,F401
from . import relational4  # noqa: E402,F401
from . import variant  # noqa: E402,F401
from . import quality  # noqa: E402,F401

try:
    from . import streaming  # noqa: F401
except ImportError:  # pragma: no cover
    pass

# Driver-visible order: names listed here register first (in this order);
# everything else follows in original module order. Unknown names are
# ignored so a renamed query can't break import.
#
# Rotation for the round after r14 — EXACTLY 50 names (driver samples 50;
# invariants pinned by tests/test_correctness_gate.py::test_driver_window_
# rotation_invariants: window size, no duplicates, front-of-registry
# equality, never-driver-checked entries inside the window, and the
# two-phase 5-round-cycle freshness rule). The list is the output of
# ``python tools/rotate_registry.py``, pasted unchanged: every entry has
# a driver row, so it orders by staleness. (a) The 16 entries last
# checked in r9 lead the window — r14 re-checked the r13 names instead,
# so these are one round from the 5-round hard-fail threshold. (b) The
# next 34 are the stalest r10 greens in registry order. ALL registry
# entries PLUS the retired ones stay covered every session by the local
# DuckDB gate (tests/test_correctness_gate.py replays every oracle in
# REGISTRY ∪ RETIRED).
#
# RETIREMENT POLICY (VERDICT r11 #6 — written before the 250-entry
# rotation-capacity wall, ~r17 at 2 debuts/round). An entry may be
# RETIRED when BOTH hold: (1) it is documented SUPERSEDED by a strictly
# more general entry that exercises the same code path with equal or
# stronger oracle coverage (e.g. 32-bit `dedup_simhash_near_pairs_wide`
# vs the 60-bit x 4-table `dedup_simhash_near_pairs_wide60`), or it is
# a scaffolding variant whose only delta is a parameter another entry
# now sweeps; and (2) its implementation stays covered by at least one
# pytest (retirement removes the REGISTRY row + its _PRIORITY
# eligibility, never the code or its unit tests). Mechanics (first
# executed r13, VERDICT r12 #6): pass `retired_by="<superseding name>"`
# to register() — the Query object then lands in base.RETIRED instead
# of REGISTRY (PYPELN_SPARK_RETIRED=1 re-registers), the local gate and
# plan lint keep covering REGISTRY ∪ RETIRED, and the retirement is
# recorded (name, superseding entry, round, rationale) in COVERAGE.md's
# Retired table; the rotation test ignores names absent from REGISTRY,
# so retired entries simply stop consuming window slots — their
# historical CORRECTNESS rows remain valid evidence. Retire at most
# ~5/round so the driver diff stays reviewable. After the r13 four
# (dedup_simhash_near_pairs_wide, ann_recall_eval_ivf,
# dedup_minhash_lsh, curation_e2e_pretrain_pack): 214 live entries +
# ~2 debuts/round vs 50x5=250 — headroom through ~r19.
_PRIORITY = [
    # -- (a) the 16 r9-stale entries --
    "variant_nested_event_doc",
    "variant_props_rollup",
    "streaming_variant_props_rollup",
    "quality_expectations_lineitem",
    "quality_profile_orders",
    "ivm_orders_priority_merge",
    "quality_table_diff_orders",
    "events_value_anomalies",
    "events_rolling_24h_stats",
    "histogram_equi_depth_by_type",
    "bloom_pruned_join_revenue",
    "zorder_layout_events",
    "graph_triangles_part_cooccurrence",
    "streaming_funnel_stages",
    "asof_join_with_tolerance",
    "streaming_interval_left_join",
    # -- (b) the stalest r10 greens, registry order --
    "pipeline_each_audit_count",
    "pipeline_to_iterable_roundtrip",
    "q1_pricing_summary",
    "q6_revenue_delta",
    "agg_nation_customer_stats",
    "groupby_having_hot_parts",
    "count_distinct_parts_by_brand",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "semi_join_auto_orders",
    "anti_join_idle_customers",
    "window_top3_orders_per_customer",
    "window_running_customer_spend",
    "window_lag_order_gap_days",
    "top_k_expensive_parts",
    "set_intersect_nations",
    "set_except_nations",
    "dedup_lsh_hot_bucket_star",
    "dedup_simhash_near_pairs60",
    "array_function_gauntlet",
    "unpivot_order_status_counts",
    "manual_median_price_by_priority",
    "cheapest_item_supplier_per_part",
    "nation_pair_trade_volume",
    "not_in_parts_never_shipped",
    "window_navigation_gauntlet",
    "listagg_region_nations",
    "stats_moments_by_event_type",
    "skew_salted_event_totals",
    "sketch_quantile_global_histogram",
    "bucketed_join_priority_revenue",
    "events_transition_matrix",
    "sketch_kmv_overlap_users",
    "q13_customer_order_distribution",
]


def _reorder() -> None:
    ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
    for n, q in REGISTRY.items():
        if n not in ordered:
            ordered[n] = q
    # preserve object identity — other modules hold references to REGISTRY
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "RETIRED", "Query", "register", "tables"]
