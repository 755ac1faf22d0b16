"""Whole-catalog plan-shape gate (r7 verdict optional #6) — the commit-time
version of scripts/plan_audit.py, so the next union-loop re-planning
regression (rich_club_coefficient hit 114 exchanges in r7 before its
collapse) is caught at commit time rather than in a round audit.

Gated quantities, chosen because they are crisp at any SF:

- CartesianProduct: zero, catalog-wide. No current query plans one.
- BroadcastNestedLoopJoin: only in the audited allowlist below. Every
  listed site is the scalar-stats idiom — a crossJoin of a 1-row
  aggregate (count/mean/threshold) back onto the data, which Catalyst
  plans as a BNLJ with a single-row broadcast side; O(1) bytes shipped,
  safe at any scale. A NEW query sprouting a BNLJ fails here until its
  broadcast side is reviewed to be 1-row-bounded and the list extended.
- unique exchanges (plan_id-deduped, any partitioning scheme): <= the
  per-query ceiling. The catalog-wide max outside the allowlisted
  iterative plans is 26 (rfm_segmentation); the union-loop disease
  shape lands at 70-114. Ceiling 30 leaves headroom for plan drift
  while still tripping an order-of-magnitude regression.

Repeated (table, ReadSchema) scans stay ADVISORY (script-only): both
documented false-positive classes (InMemoryRelation reprints inflate
counts; AQE reuses identical map stages at runtime with no trace in the
initial plan) make a crisp mechanical bound impossible — see the
scripts/plan_audit.py docstring.

Plans are built at the test SF (sf0.001). Exchange counts can only
shrink at smaller SFs (bcast_if_small broadcasts more), so the ceiling
stays sound. The cartesian/BNLJ gates are commit-time TRIPWIRES, not a
scale proof: shrinking SF can convert a would-be CartesianProduct into
a BNLJ (the non-equi side fits the broadcast threshold at sf0.001 but
not at production scale), so a new site can surface here as a BNLJ
allowlist failure rather than a cartesian failure — when extending the
allowlist, verify the broadcast side is 1-row-bounded AT SCALE (a
scalar aggregate), not merely small at the test SF. The manual sf0.01
sweep (scripts/plan_audit.py) is the higher-resolution instrument and
the authority for cartesian detection.

Do NOT run this gate concurrently with scripts/drive_contract.py (or a
second pytest of this module) on the same checkout: building the ~390
query frames executes real fixture side effects (parquet/xml writes,
eager pagerank localCheckpoints) into the same .tmp/io scratch paths
the contract drive uses, and the fixture writers' os.replace commit
rename can race a concurrent reader/writer of the same path (observed
once in r8 as a same-sf concurrency failure — the caveat documented in
scripts/plan_audit.py applies equally here, ADVICE r8 #4).
"""

from __future__ import annotations

import pytest

from hadoop_spark.plans import QUERIES, load_all
from hadoop_spark.plans.audit import build_plan, measure
from tests.conftest import SF_DIR

load_all()

# Audited 1-row-broadcast BNLJ sites (sf0.01 sweep, r8). Every entry is a
# scalar-aggregate crossJoin — reviewed in the r5-r7 plan audits.
BNLJ_ALLOWLIST = {
    "abc_inventory_classes", "ann_cosine_topk", "ann_hard_negatives",
    "ann_ivf_materialized", "ann_ivf_topk", "ann_lsh_recall", "ann_mrr",
    "ann_pq_recall", "ann_recall", "assoc_rules", "bm25_scores",
    "calibration_bins", "catalog_coverage_curve", "chi2_independence",
    "chi2_terms", "churn_risk_flags", "community_conductance",
    "cuped_adjusted_ab", "daily_metric_corr", "data_quality_audit",
    "dataset_card", "decision_stump", "degree_assortativity",
    "distcp_roundtrip", "embedding_norm_outliers", "error_cascade_rate",
    "freshness_report", "graph_modularity", "heavy_hitters",
    "hierarchical_share", "isotonic_fit", "join_size_estimate",
    "kaplan_meier", "kmv_set_algebra", "ks_distance",
    "label_balance_weights", "latency_percentile_trend", "lead_lag_corr",
    "local_peaks", "lorenz_curve", "lsh_candidate_quality", "nb_langid",
    "p_chart_control_limits", "pca_power_iteration", "price_ending_bias",
    "quality_classifier", "quantile_normalize", "rfm_segmentation",
    "rich_club_coefficient", "rolling_active_users",
    "search_fanout_nqueens", "slo_burn_rate", "source_tv_divergence",
    "stream_heavy_hitters", "subspace_energy", "substitute_candidates",
    "target_encoding", "temperature_mix", "temporal_split_audit",
    "token_budget_allocator", "topn_with_other", "tpch_q11", "tpch_q22",
    "triangle_count", "vocab_coverage", "word_lift",
}

# Iterative bounded-collect plans whose exchange count is K-iteration
# sized by design (reviewed r7 audit: pca = 120 at sf0.01).
EXCHANGE_CEILING = 30
EXCHANGE_ALLOWLIST = {"pca_power_iteration": 140}

# Building these queries' frames executes real fixture work whose plan
# shape is already pinned by dedicated tests; excluded here to keep the
# gate's runtime bounded, NOT because they are exempt from review:
# - db_pageview_roundtrip boots embedded Derby (seconds of JVM work,
#   plan shape pinned by tests/test_jdbc.py)
# - pyds_fixed_width_roundtrip writes through the Python data source
#   (commit protocol pinned by tests/test_pyds_commit.py)
SKIP = {"db_pageview_roundtrip", "pyds_fixed_width_roundtrip"}


@pytest.fixture(scope="module")
def audit_rows(spark):
    rows: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in QUERIES:
        if name in SKIP:
            continue
        try:
            rows[name] = measure(build_plan(spark, SF_DIR, name))
        except Exception as exc:  # noqa: BLE001 — report all, then fail
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    assert not errors, f"plans failed to build: {errors}"
    return rows


def test_no_cartesian_products(audit_rows):
    bad = {n: m["cartesian"] for n, m in audit_rows.items() if m["cartesian"]}
    assert not bad, f"CartesianProduct in plans: {bad}"


def test_bnlj_only_at_audited_scalar_join_sites(audit_rows):
    found = {n for n, m in audit_rows.items() if m["bnlj"]}
    new = found - BNLJ_ALLOWLIST
    assert not new, (
        f"new BroadcastNestedLoopJoin sites (verify the broadcast side is "
        f"a 1-row scalar, then extend BNLJ_ALLOWLIST): {sorted(new)}"
    )


def test_exchange_counts_within_ceiling(audit_rows):
    over = {
        n: m["unique_exchanges"]
        for n, m in audit_rows.items()
        if m["unique_exchanges"] > EXCHANGE_ALLOWLIST.get(n, EXCHANGE_CEILING)
    }
    assert not over, (
        f"exchange counts above ceiling — union-loop re-planning "
        f"signature, see r7 rich_club collapse: {over}"
    )
