"""Reproducible physical-plan audit.

Dumps ``explain("formatted")`` for every HEADLINE query (or any names
passed on the command line) so the invariants documented in
docs/PLANS.md can be re-verified against the actual plans instead of
trusted as prose. Also greps each plan for the red flags the plan
tests assert on and prints a one-line verdict per query.

Usage:
    python tools/planaudit.py [query ...]        # default: headliners
    python tools/planaudit.py --all              # every registry entry
    PLAN_DUMP_DIR=/tmp/plans python tools/planaudit.py   # keep dumps
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

RED_FLAGS = (
    # (marker, why it's a 100 TB problem)
    ("CartesianProduct", "unbounded pair blow-up"),
    ("BatchEvalPython", "row-at-a-time Python in the hot path"),
)
YELLOW_FLAGS = (
    ("BroadcastNestedLoopJoin", "theta-join fallback (OK only if semantically theta)"),
)


def _plan_kids(node):
    """Children of an executed-plan node, unwrapping the AQE / query-
    stage / reused-exchange wrappers that hide the real subtree."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    n = node.children().length()
    return [node.children().apply(i) for i in range(n)]


def bnlj_broadcast_rows(df) -> list[int]:
    """Execute ``df`` and return, for every BroadcastNestedLoopJoin in
    the final (post-AQE) physical plan, the ROW COUNT its broadcast
    side actually produced (the BroadcastExchange's numOutputRows
    runtime metric). This turns the "bounded k-row fan-out" claim the
    BNLJ-warn adjudications rest on into a measurement: a documented
    bounded class must show a small, SF-invariant number here, never
    one that scales with the data."""
    df.collect()
    out: list[int] = []

    def walk(node, under_bnlj: bool):
        nm = node.nodeName()
        if "BroadcastNestedLoopJoin" in nm:
            # the build side is the direct child whose (wrapper-
            # unwrapped) root IS a BroadcastExchange — a broadcast
            # nested deeper inside the stream side must not be
            # mistaken for it
            for k in _plan_kids(node):
                r = _unwrap(k)
                if "BroadcastExchange" in r.nodeName():
                    m = r.metrics()
                    out.append(int(m.apply("numOutputRows").value()))
            for k in _plan_kids(node):
                walk(k, False)
            return
        for k in _plan_kids(node):
            walk(k, under_bnlj)

    def _unwrap(node):
        # peel pass-through wrappers until a real operator shows
        while node.getClass().getSimpleName() in (
            "InputAdapter", "WholeStageCodegenExec",
            "BroadcastQueryStageExec", "ReusedExchangeExec",
            "ResultQueryStageExec",
        ):
            node = _plan_kids(node)[0]
        return node

    plan = df._jdf.queryExecution().executedPlan()
    walk(plan, False)
    return out


# (query, per-BNLJ broadcast-side row bound) — the documented bounded
# classes; tests/test_scanaudit.py pins the exact counts at sf0.001/
# sf0.01, `--bnlj` measures them at any SF (roundclose: sf0.1)
BNLJ_BOUNDED = {
    "ann_topk_cosine": 10,
    "ann_ivf_pq_topk": 4,
    "ml_gridsearch_ridge": 3,
    "ml_gbdt_residual_boost": 1,
    "text_bm25_scores": 1,
}


def _bnlj_main(names, sf_dir) -> int:
    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    spark = get_spark("bnljaudit")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    bad = 0
    for name in names or BNLJ_BOUNDED:
        bound = BNLJ_BOUNDED.get(name)
        rows = bnlj_broadcast_rows(reg[name].fn(spark, sf_dir))
        ok = bound is not None and all(r is not None and r <= bound
                                       for r in rows)
        print(f"{'ok  ' if ok else 'FAIL'}  {name}: bnlj_broadcast_rows="
              f"{rows} (bound {bound}/side)")
        bad += 0 if ok else 1
    spark.stop()
    return 1 if bad else 0


def main() -> int:
    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    argv = [a for a in sys.argv[1:] if a not in ("--all", "--bnlj")]
    use_all = "--all" in sys.argv[1:]
    if "--bnlj" in sys.argv[1:]:
        return _bnlj_main(
            argv, os.environ.get("SPARK_GRAFT_SF_DIR",
                                 "/root/testdata/sf0.01"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    dump_dir = os.environ.get("PLAN_DUMP_DIR")

    spark = get_spark("planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    names = argv or [
        n for n, q in reg.items() if (use_all or q.headline)
        # streaming queries execute on .start(); their batch-side plan
        # string is not the executed plan, so they are skipped here
        if not n.startswith("stream_")
    ]

    n_red = 0
    for name in names:
        q = reg[name]
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # pragma: no cover - audit tool
            print(f"ERR   {name}: {ex!r}"[:300])
            n_red += 1
            continue
        reds = [(m, why) for m, why in RED_FLAGS if m in plan]
        yellows = [(m, why) for m, why in YELLOW_FLAGS if m in plan]
        codegen = plan.count("*(")
        tag = "RED " if reds else ("warn" if yellows else "ok  ")
        notes = "; ".join(f"{m} ({why})" for m, why in reds + yellows)
        print(f"{tag}  {name}: codegen_stages={codegen}"
              + (f"  {notes}" if notes else ""))
        if reds:
            n_red += 1
        if dump_dir:
            os.makedirs(dump_dir, exist_ok=True)
            with open(os.path.join(dump_dir, f"{name}.plan.txt"), "w") as f:
                f.write(plan)
    spark.stop()
    return 1 if n_red else 0


if __name__ == "__main__":
    raise SystemExit(main())
