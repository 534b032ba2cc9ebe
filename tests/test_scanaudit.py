"""Regression pins for the redundant-scan sweep: the flagged plans
that were fixed must stay fixed. Each assertion compiles the query's
physical plan (no execution) and checks the same-table FileScan
multiplicity stays at the audited post-fix level — a reverted pin or a
reintroduced self-union shows up as a count jump, long before it costs
anything at scale.

The audit itself (tools/scanaudit.py) runs registry-wide in the
round-close ritual; this subset exists so the worst fixed instances
(48x, 28x, 24x, 14x compiled fact scans) fire on every commit.
"""
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.scanaudit import scan_counts  # noqa: E402

SF = "/root/testdata/sf0.001"

# (query, table, max allowed same-table scans in the compiled plan)
PINS = [
    ("graph_random_walks", "events", 1),          # was 48
    ("graph_walk_skipgram_pairs", "events", 1),   # was 48
    ("ml_boosted_stumps", "embeddings", 2),       # was 28
    ("ml_gbdt_residual_boost", "lineitem", 2),    # was 24
    ("orders_rfm_segmentation", "orders", 2),     # was 14
    ("sketch_kmv_audience_overlap", "events", 2), # was 10
    ("events_conversion_delay", "events", 2),     # was 10
    ("text_length_outliers_mad", "documents", 1), # was 9
    ("graph_jaccard_neighbors", "events", 1),     # was 8
    ("ml_isotonic_calibration", "embeddings", 2), # was 8
    ("sketch_quantile_bins", "orders", 2),        # was 7
    ("ml_gridsearch_ridge", "lineitem", 2),       # was 3
    ("basket_brand_affinity", "lineitem", 1),     # was 5
    ("text_dsir_importance", "documents", 1),     # was 5
]


@pytest.mark.parametrize("name,table,max_scans", PINS)
def test_scan_multiplicity_stays_fixed(spark, name, table, max_scans):
    from emma_spark.workloads import load_all

    q = load_all()[name]
    plan = q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    c = scan_counts(plan)
    assert c.get(table, 0) <= max_scans, (
        f"{name}: {table} scanned {c.get(table)}x in the compiled plan "
        f"(audited post-fix bound {max_scans}) — a pin or one-pass "
        f"adjacency build regressed; full counts: {dict(c)}"
    )


# The BNLJ-warn adjudications claim each
# BroadcastNestedLoopJoin's build side is a bounded k-row fan-out,
# never data-scaled. Measured at sf0.001/sf0.01/sf0.1: identical.
# (query, expected broadcast-side row counts — one per BNLJ in plan)
_BNLJ_BOUNDS = [
    ("ann_topk_cosine", [10]),          # the 10 query vectors
    ("ann_ivf_pq_topk", [4, 4]),        # coarse-probe + ADC constants
    ("ml_gridsearch_ridge", [3]),       # the 3-point lambda grid
    ("ml_gbdt_residual_boost", [1] * 5),  # 1-row stats, 5 boost rounds
    ("text_bm25_scores", [1]),          # 1-row corpus stats
]


@pytest.mark.parametrize("name,want", _BNLJ_BOUNDS)
def test_bnlj_broadcast_side_is_bounded(spark, name, want):
    """The 'bounded class' claim as a measurement, not a comment: run
    the query and read each BroadcastNestedLoopJoin's build-side
    numOutputRows from the executed (post-AQE) plan. The counts must
    be the documented constants and must NOT scale with SF — a
    data-scaled broadcast side here is exactly the plan that dies at
    100 TB."""
    from emma_spark.workloads import load_all

    from tools.planaudit import bnlj_broadcast_rows

    q = load_all()[name]
    per_sf = {}
    for sf in ("sf0.001", "sf0.01"):
        rows = sorted(bnlj_broadcast_rows(q.fn(spark, f"/root/testdata/{sf}")))
        per_sf[sf] = rows
        assert rows == sorted(want), (name, sf, rows, want)
    assert per_sf["sf0.001"] == per_sf["sf0.01"], per_sf
