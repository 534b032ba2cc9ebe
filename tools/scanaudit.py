"""Registry-wide REDUNDANT-SCAN audit: compile every registry query's
physical plan at sf0.001 and count how many times each parquet table is
scanned. A query that scans the same table k >= THRESH times almost
always has the 1-row-aggregate fan-out pathology (every reference to an
unpinned aggregate recompiles its full lineage — Catalyst does not
unify distinct plan branches), which multiplies I/O by k at 100 TB.
ml_gbdt_residual_boost once compiled 24 lineitem scans;
this tool exists so the next instance is found by sweep, not by
accident.

Counts are PLAN counts: pinned (localCheckpoint) subtrees hide their
one materialization scan, so a pinned pipeline legitimately reports 0.
The audit flags only same-table multiplicity in a single lazy plan.

    python tools/scanaudit.py [--thresh N] [query ...]
"""
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"

# FileScan parquet [relation] ... paths include .../<table>.parquet
_SCAN_RE = re.compile(r"FileScan parquet[^\n]*?/(\w+)\.parquet")
# driver-loop queries execute eagerly at build time and their plans are
# checkpoint-backed — scan counts are not meaningful for them
_EXCLUDE_PREFIXES = ("stream_",)


def scan_counts(plan: str) -> Counter:
    return Counter(_SCAN_RE.findall(plan))


def main(argv) -> int:
    thresh = 3
    only = []
    for a in argv:
        if a.startswith("--thresh"):
            thresh = int(a.split("=", 1)[1])
        else:
            only.append(a)

    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    spark = get_spark("scanaudit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = load_all()
    flagged = []
    n_done = n_err = 0
    for name, q in qs.items():
        if only and name not in only:
            continue
        if name.startswith(_EXCLUDE_PREFIXES):
            continue
        try:
            df = q.fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            n_err += 1
            print(f"ERR   {name}: {str(ex)[:120]}")
            continue
        n_done += 1
        c = scan_counts(plan)
        worst = max(c.values(), default=0)
        if worst >= thresh:
            detail = ", ".join(f"{t}x{k}" for t, k in c.most_common() if k > 1)
            flagged.append((worst, name, detail))
            print(f"FLAG  {name}: {detail}")
    flagged.sort(reverse=True)
    print(f"\n{n_done} audited, {n_err} errors, {len(flagged)} flagged "
          f"(same table scanned >= {thresh}x in one plan)")
    for worst, name, detail in flagged[:20]:
        print(f"  {worst:3d}x {name}: {detail}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
